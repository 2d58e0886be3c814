"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001; ``queries()`` maps
every implemented operator (SURVEY.md §2 + north-star extensions) to a
callable ``(spark, sf_dir) -> DataFrame``; ``oracle_sql()`` gives the
DuckDB-equivalent SQL for each (same column names/rounding so the driver's
order-insensitive value-hash matches).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from bigdataminingproject_spark.functions.numeric import stable_avg_sql
from bigdataminingproject_spark.functions.text import (
    ENGLISH_STOPWORDS,
    SKIPWORDS,
)
from bigdataminingproject_spark.operators import anomaly
from bigdataminingproject_spark.operators import expectations
from bigdataminingproject_spark.operators import zonemap
from bigdataminingproject_spark.operators import aqp, association
from bigdataminingproject_spark.operators import bpe
from bigdataminingproject_spark.operators import coreset
from bigdataminingproject_spark.operators import dedup, density, events, frequency
from bigdataminingproject_spark.operators import fuzzy
from bigdataminingproject_spark.operators import graph
from bigdataminingproject_spark.operators import histogram
from bigdataminingproject_spark.operators import intervals
from bigdataminingproject_spark.operators import kmv
from bigdataminingproject_spark.operators import recommend
from bigdataminingproject_spark.operators import kcore
from bigdataminingproject_spark.operators import qdigest
from bigdataminingproject_spark.operators import minhash, multimodal, relational
from bigdataminingproject_spark.operators import packing, pq, quality, sampling
from bigdataminingproject_spark.operators import retrieval, selection, sketches
from bigdataminingproject_spark.operators import skyline
from bigdataminingproject_spark.operators import spectral
from bigdataminingproject_spark.operators import tpch
from bigdataminingproject_spark.operators import similarity, snapshots, temporal
from bigdataminingproject_spark.operators import profiling
from bigdataminingproject_spark.operators import textstats
from bigdataminingproject_spark.operators import trends
from bigdataminingproject_spark.operators.textstats import LANG_MARKERS
from bigdataminingproject_spark.plans import audit, curation, ordering, report
from bigdataminingproject_spark.session import tune_session
from bigdataminingproject_spark.streaming import pipeline as streaming_pipeline


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-style pricing summary) on sf0.001."""
    tune_session(spark)
    return relational.q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ROTATION POLICY (standing, per VERDICT r2 #4): the driver writes at
    # most ~50 CORRECTNESS rows per round, so every round the ordering is
    # rebuilt as
    #   (1) queries whose code or oracle changed this round   [tier 0]
    #   (2) queries never attested by any driver round
    #   (3) everything else, oldest driver attestation first
    # so the capped run always re-attests what moved and staleness decays
    # round over round. Unchanged tiers keep their last-green driver rows
    # (append-only git diffs prove non-movement).
    # The explicit lists at the end of this function set the order.
    reg = {
        # round 4 additions (driver-attested green in r4)
        "q_doc_association_rules": association.q_doc_association_rules,
        "q_embedding_covariance": similarity.q_embedding_covariance,
        "q_embedding_top_pc": spectral.q_embedding_top_pc,
        "q_doc_inverted_index_incremental": (
            retrieval.q_doc_inverted_index_incremental
        ),
        "q_events_pit_state": temporal.q_events_pit_state,
        "q_events_session_paths": events.q_events_session_paths,
        "q_customer_skyline": skyline.q_customer_skyline,
        "q_segment_skyline": skyline.q_segment_skyline,
        # round 5 stretch (VERDICT r4 #8): 3-D grouped RFM skyline.
        # Deliberately ordered BELOW the backlog this round (rotation
        # lists at the end of this function) so it cannot displace a
        # backlog re-attestation slot; next round it ranks as
        # never-attested.
        "q_segment_rfm_skyline": skyline.q_segment_rfm_skyline,
        "q_events_transitions": events.q_events_transitions,
        # round 5, below the fold: LTTB time-series downsampling
        "q_events_downsample": events.q_events_downsample,
        "q_table_integrity": audit.q_table_integrity,
        "q_doc_profile": audit.q_doc_profile,
        "q_doc_inverted_index": retrieval.q_doc_inverted_index,
        "q_customer_fuzzy_matches": fuzzy.q_customer_fuzzy_matches,
        "q_doc_span_dedup": dedup.q_doc_span_dedup,
        "q_knn_sq8": similarity.q_knn_sq8,
        "q_kmeans_clusters": similarity.q_kmeans_clusters,
        # round 8b: greedy k-center coreset (farthest-point diverse
        # exemplar selection — the data-pruning coverage primitive)
        "q_embedding_coreset": coreset.q_embedding_coreset,
        "q_token_pagerank": frequency.q_token_pagerank,
        # round 8b: incremental graph analytics — the co-occurrence
        # graph (a count aggregate, closed under addition) maintained
        # in the LSM store; publish reruns the graph-sized iteration
        "q_stream_pagerank_maintenance": (
            streaming_pipeline.q_stream_pagerank_maintenance
        ),
        "q_source_divergence": textstats.q_source_divergence,
        "q_events_cohort_retention": events.q_events_cohort_retention,
        # round 8b: the retention triangle maintained live — presence
        # pairs are a set (closed under distinct-union), LSM-folded
        "q_stream_retention_maintenance": (
            streaming_pipeline.q_stream_retention_maintenance
        ),
        "q_stream_hourly": streaming_pipeline.q_stream_hourly,
        # round 5: foreachBatch sink-side rollup maintenance twin
        "q_stream_hourly_maintenance": (
            streaming_pipeline.q_stream_hourly_maintenance
        ),
        # round 6: foreachBatch corpus-state upsert (VERDICT r5 #3) —
        # incremental curation driven by a live micro-batch stream
        "q_stream_curation_maintenance": (
            streaming_pipeline.q_stream_curation_maintenance
        ),
        # round 7: the FULL v4 curation composition incrementally
        # maintained by the crawl stream (VERDICT r6 #2) over the
        # LSM-compacted append-only state store (VERDICT r6 #3)
        "q_stream_curation_v4_maintenance": (
            streaming_pipeline.q_stream_curation_v4_maintenance
        ),
        # round 7: inverted-index maintenance over the merge-operator
        # (folding) LSM store — partial aggregates fold at compaction
        "q_stream_index_maintenance": (
            streaming_pipeline.q_stream_index_maintenance
        ),
        # round 7: weighted-sample maintenance — the ES reservoir's
        # top-k partials fold at compaction (sources x k state bound)
        "q_stream_sample_maintenance": (
            streaming_pipeline.q_stream_sample_maintenance
        ),
        # round 7: covariance maintenance — mergeable moment rows fold
        # at compaction (one d^2+d+1-double row per LSM level)
        "q_stream_covariance_maintenance": (
            streaming_pipeline.q_stream_covariance_maintenance
        ),
        "q_stream_kmv_maintenance": (
            streaming_pipeline.q_stream_kmv_maintenance
        ),
        "q_stream_decay_maintenance": (
            streaming_pipeline.q_stream_decay_maintenance
        ),
        "q_stream_dedup": streaming_pipeline.q_stream_dedup,
        "q_stream_grid_maintenance": (
            streaming_pipeline.q_stream_grid_maintenance
        ),
        # round 8: multi-grain continuous aggregate (hypertable rollup)
        # maintained as LSM-folded (count, sum) partials; same oracle
        # as the batch q_events_time_rollup
        "q_stream_rollup_maintenance": (
            streaming_pipeline.q_stream_rollup_maintenance
        ),
        "q_stream_ann_maintenance": (
            streaming_pipeline.q_stream_ann_maintenance
        ),
        "q_stream_delta_join_maintenance": (
            streaming_pipeline.q_stream_delta_join_maintenance
        ),
        "q_stream_zset_maintenance": (
            streaming_pipeline.q_stream_zset_maintenance
        ),
        "q_stream_join_size_maintenance": (
            streaming_pipeline.q_stream_join_size_maintenance
        ),
        # round 7: q-digest mergeable quantile sketch (batch build +
        # the domain-bounded leaf-counter streaming fold twin)
        "q_events_qdigest": qdigest.q_events_qdigest,
        "q_stream_qdigest_maintenance": (
            streaming_pipeline.q_stream_qdigest_maintenance
        ),
        # round 7: range-predicate selectivity from the q-digest (the
        # range-scan half of the optimizer-statistics family)
        "q_events_range_selectivity": (
            qdigest.q_events_range_selectivity
        ),
        # round 7: k-core (coreness) decomposition via the fixed-round
        # H-index iteration, and its pair-counter folding twin
        "q_part_coreness": kcore.q_part_coreness,
        "q_stream_kcore_maintenance": (
            streaming_pipeline.q_stream_kcore_maintenance
        ),
        # round 6: SQL front door (VERDICT r5 #8) — the engine consumed
        # purely through spark.sql over the registered catalog
        "q_sql_region_revenue": relational.q_sql_region_revenue,
        # round 6, second batch: BPE tokenizer training (iterative
        # relational merge loop) and its segmentation apply step
        "q_doc_bpe_train": bpe.q_doc_bpe_train,
        "q_doc_bpe_segment": bpe.q_doc_bpe_segment,
        # round 6, second batch: watermarked stream-stream interval join
        "q_stream_join_attribution": (
            streaming_pipeline.q_stream_join_attribution
        ),
        "q_corpus_curation_v4": curation.q_corpus_curation_v4,
        "q_events_funnel_latency": events.q_events_funnel_latency,
        "q_hard_negatives": retrieval.q_hard_negatives,
        "q_corpus_diff": report.q_corpus_diff,
        "q_lineitem_zorder": ordering.q_lineitem_zorder,
        "q_events_scd2": events.q_events_scd2,
        "q_knn_truncated_recall": similarity.q_knn_truncated_recall,
        "q_stream_sessions": streaming_pipeline.q_stream_sessions,
        "q_doc_apply_mixture": sampling.q_doc_apply_mixture,
        "q_doc_gopher_gate": quality.q_doc_gopher_gate,
        "q_knn_ivf_probe_curve": similarity.q_knn_ivf_probe_curve,
        "q_events_value_quantiles": sketches.q_events_value_quantiles,
        # round 8b: EXACT order statistics via distributed selection
        # (iterative bracket descent — no global sort, no per-value
        # counters; the exact complement of the q-digest family)
        "q_events_exact_quantiles": selection.q_events_exact_quantiles,
        "q_events_grouped_exact_quantiles": (
            selection.q_events_grouped_exact_quantiles
        ),
        "q_doc_weighted_length_quantiles": (
            selection.q_doc_weighted_length_quantiles
        ),
        "q_doc_source_weighted_length": (
            selection.q_doc_source_weighted_length
        ),
        "q_events_mad_outliers": selection.q_events_mad_outliers,
        "q_events_latency_by_type": sketches.q_events_latency_by_type,
        "q_join_size_estimate": sketches.q_join_size_estimate,
        # round 8b: AQP — deterministic hash-sample estimation with a
        # CLT error bar (the optimizer/dashboard family's third leg
        # after CMS join-size and q-digest selectivity)
        "q_lineitem_aqp_revenue": aqp.q_lineitem_aqp_revenue,
        "q_lineitem_aqp_by_flag": aqp.q_lineitem_aqp_by_flag,
        # round 9: the AQP quantile leg — sample median with
        # distribution-free binomial order-statistic bounds; every
        # quantile involved is an exact selection on both engines
        "q_lineitem_aqp_quantile": aqp.q_lineitem_aqp_quantile,
        "q_lineitem_aqp_quantile_sample": (
            aqp.q_lineitem_aqp_quantile_sample
        ),
        # round 9: equi-depth histogram (exact boundaries via the
        # shared selection descent) + the histogram-interpolation
        # selectivity estimator — the classic optimizer statistic
        # alongside CMS join-size and q-digest range rank
        "q_events_equidepth_hist": histogram.q_events_equidepth_hist,
        "q_events_hist_selectivity": (
            histogram.q_events_hist_selectivity
        ),
        # round 9: bucketized point-in-interval (range) join — the
        # equi-join decomposition of an inequality join; incident-
        # window stats per error anchor
        "q_events_interval_join": intervals.q_events_interval_join,
        # round 9: item-item co-purchase cosine top-k (the
        # recommendation family; within-basket pair enumeration only)
        "q_part_itemsim": recommend.q_part_itemsim,
        # round 9: deterministic synchronous label-propagation
        # communities on the co-purchase part graph
        "q_part_communities": graph.q_part_communities,
        # round 9: per-group winsorized robust statistics (clip at
        # exact per-group [p5, p95] via the keyed selection descent)
        "q_events_winsorized_stats": (
            selection.q_events_winsorized_stats
        ),
        # round 9: per-group OLS trend from mergeable exact sufficient
        # statistics (one hash-agg scan, O(groups) state) — plus its
        # folding streaming maintenance twin below
        "q_events_linear_trend": trends.q_events_linear_trend,
        # round 9: hourly-count autocorrelation function (lags 1..24)
        # — one heavy scan to an O(hours) series, lag work on the tiny
        # relation only
        "q_events_autocorr": trends.q_events_autocorr,
        "q_events_xcorr": trends.q_events_xcorr,
        "q_events_seasonal_anomaly": trends.q_events_seasonal_anomaly,
        "q_events_theil_sen": trends.q_events_theil_sen,
        # round 9: CUSUM mean-shift changepoint per event type over
        # the dense hourly series (left-to-right window walk, engine-
        # identical doubles)
        "q_events_cusum_changepoint": (
            trends.q_events_cusum_changepoint
        ),
        # round 9: streaming OLS maintenance — sufficient statistics
        # folded per-key in the LSM store; shares
        # q_events_linear_trend's oracle exactly (exact integer sums)
        "q_stream_regression_maintenance": (
            streaming_pipeline.q_stream_regression_maintenance
        ),
        # round 9: column-dependence profiling — exact-count mutual
        # information between event type and hour-of-day
        "q_events_mi": profiling.q_events_mi,
        # round 9: functional-dependency discovery metrics (g3
        # violation counts) for four canonical candidate FDs on orders
        "q_orders_fd_profile": profiling.q_orders_fd_profile,
        "q_orders_dependence_profile": (
            profiling.q_orders_dependence_profile
        ),
        "q_orders_benford": profiling.q_orders_benford,
        # round 9: Poisson-bootstrap per-group mean with order-
        # statistic error bars — the distribution-free AQP sibling
        "q_events_bootstrap_ci": aqp.q_events_bootstrap_ci,
        # round 9: kth-NN-distance outlier scoring (Ramaswamy et al.)
        # — exact all-pairs baseline for the IVF-shortlist path
        "q_embedding_knn_outliers": similarity.q_embedding_knn_outliers,
        "q_embedding_knn_outliers_ivf": (
            similarity.q_embedding_knn_outliers_ivf
        ),
        # round 10b: multi-source BFS hop distances on the co-purchase
        # graph (frontier expansion; recursive-CTE oracle) — the
        # graph-traversal member of the graph family
        "q_part_hop_distance": graph.q_part_hop_distance,
        # round 10b: HBOS density anomaly scoring (Goldstein & Dengel
        # 2012) — O(buckets+categories) global state, two scans
        "q_events_hbos": anomaly.q_events_hbos,
        # round 10b: bloom-semi-join shuffle reduction (the runtime-
        # filter pattern as a composable operator; plain-join oracle)
        "q_bloom_join_revenue": sketches.q_bloom_join_revenue,
        # round 10b: personalized PageRank around the BFS seed slice
        # (weighted basket proximity; unrolled quantized-walk oracle)
        "q_part_ppr": graph.q_part_ppr,
        # round 10b: declarative data-quality expectations (Deequ-
        # style contract: N constraints, one conditional-agg scan)
        "q_orders_expectations": expectations.q_orders_expectations,
        # round 10b: golden-record survivorship — the canonicalization
        # stage completing the entity-resolution pipeline
        "q_customer_golden_record": fuzzy.q_customer_golden_record,
        # round 10b: stationary distribution of the behavioral Markov
        # chain (quantized power iteration over the transition matrix)
        "q_events_markov_stationary": (
            events.q_events_markov_stationary
        ),
        # round 10b: zone-map pruning effectiveness, natural vs
        # date-clustered layout (the data-skipping statistics)
        "q_lineitem_zonemap": zonemap.q_lineitem_zonemap,
        # round 10b: the release contract maintained live (IVM over
        # the QA gate: additive scalar partials + keyed counters)
        "q_stream_expectations_maintenance": (
            streaming_pipeline.q_stream_expectations_maintenance
        ),
        # round 10b: correlated-sampling join-size estimator (the
        # unbiased sibling of the CMS inner-product estimate)
        "q_join_size_sampled": sketches.q_join_size_sampled,
        # round 10b: its IVM twin — insert-only graphs make hop
        # distance a monotone view, maintained by delta relaxation;
        # publish is a pure state read (no recompute at all)
        "q_stream_bfs_maintenance": (
            streaming_pipeline.q_stream_bfs_maintenance
        ),
        # round 9: PSI distribution drift per group (exact reference
        # deciles via the selection descent, Laplace-smoothed fold)
        "q_events_psi_drift": profiling.q_events_psi_drift,
        # round 9: Pearson chi-square independence + Cramér's V from
        # the exact contingency table (shares the MI cell state)
        "q_events_chi2": profiling.q_events_chi2,
        # round 9: the item-item recommender maintained live — pair
        # counts by the delta-join rule (a basket's pairs span arrival
        # batches), additive marginals, shared scoring tail; lands on
        # q_part_itemsim's oracle
        "q_stream_itemsim_maintenance": (
            streaming_pipeline.q_stream_itemsim_maintenance
        ),
        # round 9: the drift monitor maintained live — per-(key, half,
        # value) counters, publish rebuilds deciles by the pinned rank
        # rule; lands on q_events_psi_drift's oracle
        "q_stream_psi_maintenance": (
            streaming_pipeline.q_stream_psi_maintenance
        ),
        # round 9: chi-square maintained from the same cell-state
        # discipline as the MI twin
        "q_stream_chi2_maintenance": (
            streaming_pipeline.q_stream_chi2_maintenance
        ),
        # round 9: IVM twins — equi-depth histogram maintained as
        # value-domain counters, MI as contingency cells; both publish
        # exactly onto their batch oracles
        "q_stream_hist_maintenance": (
            streaming_pipeline.q_stream_hist_maintenance
        ),
        "q_stream_mi_maintenance": (
            streaming_pipeline.q_stream_mi_maintenance
        ),
        "q_events_hourly_incremental": events.q_events_hourly_incremental,
        "q_doc_blocklist": quality.q_doc_blocklist,
        "q_doc_quality_classifier": quality.q_doc_quality_classifier,
        "q_doc_chunks": packing.q_doc_chunks,
        "q_doc_pmi_collocations": frequency.q_doc_pmi_collocations,
        "q_semantic_dedup": similarity.q_semantic_dedup,
        "q_doc_leakage_split": sampling.q_doc_leakage_split,
        "q_doc_bpe_pairs": textstats.q_doc_bpe_pairs,
        "q_label_centroid_stats": similarity.q_label_centroid_stats,
        "q_hybrid_search": retrieval.q_hybrid_search,
        # round 5, below the fold: MMR diversified re-ranking
        "q_mmr_rerank": retrieval.q_mmr_rerank,
        "q_corpus_datacard": report.q_corpus_datacard,
        "q_corpus_curation_v3": curation.q_corpus_curation_v3,
        "q_doc_bm25_topk": frequency.q_doc_bm25_topk,
        "q_doc_bigram_nll": quality.q_doc_bigram_nll,
        "q_doc_dsir_weights": sampling.q_doc_dsir_weights,
        "q_corpus_curation_v2": curation.q_corpus_curation_v2,
        "q_doc_token_budget": sampling.q_doc_token_budget,
        # (historical r1/r2 batch — actual round-5 rotation order is
        # set by the explicit lists at the end of this function)
        "q_doc_tokens_topk": frequency.q_doc_tokens_topk,
        # round 8b: exact two-pass heavy hitters (Misra-Gries
        # candidates + exact recount — no vocabulary-sized shuffle)
        # and its count-folding streaming maintenance twin
        "q_doc_heavy_hitters": frequency.q_doc_heavy_hitters,
        "q_doc_source_heavy_hitters": (
            frequency.q_doc_source_heavy_hitters
        ),
        "q_stream_hh_maintenance": (
            streaming_pipeline.q_stream_hh_maintenance
        ),
        "q_doc_term_estimates": frequency.q_doc_term_estimates,
        "q_doc_source_topk": frequency.q_doc_source_topk,
        "q_doc_bigrams": frequency.q_doc_bigrams,
        "q_doc_vocab_stats": frequency.q_doc_vocab_stats,
        "q_dup_scores": dedup.q_dup_scores,
        "q_dup_summary": dedup.q_dup_summary,
        "q_exact_duplicates": dedup.q_exact_duplicates,
        "q_ngram_jaccard": dedup.q_ngram_jaccard,
        "q_doc_snm_pairs": dedup.q_doc_snm_pairs,
        "q_token_triangles": graph.q_token_triangles,
        # round 7: local clustering coefficient on the co-purchase
        # graph (neighborhood closure, the complement of coreness)
        "q_part_clustering": graph.q_part_clustering,
        "q_doc_stats": textstats.q_doc_stats,
        "q_doc_fingerprints": textstats.q_doc_fingerprints,
        "q_doc_lang_stats": textstats.q_doc_lang_stats,
        "q_doc_lang_id": textstats.q_doc_lang_id,
        "q_minhash_lsh": minhash.q_minhash_lsh,
        "q_simhash_neardup": minhash.q_simhash_neardup,
        "q_embedding_neardup_lsh": similarity.q_embedding_neardup_lsh,
        # live Structured Streaming topology (applyInPandasWithState),
        # batch-replayed to a memory sink; same oracle as q_doc_snapshots
        "q_stream_snapshots": streaming_pipeline.q_stream_snapshots,
        "q_corpus_curation": curation.q_corpus_curation,
        # round 5: snapshot+delta incremental maintenance of the v1
        # curation manifest (VERDICT r4 #3); oracle = full rerun
        "q_corpus_curation_incremental": (
            curation.q_corpus_curation_incremental
        ),
        "q_doc_quality": textstats.q_doc_quality,
        "q_doc_token_counts": textstats.q_doc_token_counts,
        "q_doc_snapshots": snapshots.q_doc_snapshots,
        "q_doc_topk_cumulative": snapshots.q_doc_topk_cumulative,
        "q_doc_burst": snapshots.q_doc_burst,
        "q_knn_bruteforce": similarity.q_knn_bruteforce,
        "q_embedding_neardup_anchor": similarity.q_embedding_neardup_anchor,
        "q_doc_sample_stratified": sampling.q_doc_sample_stratified,
        "q_doc_weighted_sample": sampling.q_doc_weighted_sample,
        "q_doc_curriculum": sampling.q_doc_curriculum,
        "q_source_kmv_overlap": kmv.q_source_kmv_overlap,
        "q_knn_pq": pq.q_knn_pq,
        "q_knn_pq_rerank": pq.q_knn_pq_rerank,
        # round 8: the routed default ANN entry point (VERDICT r7 #4) —
        # exact below the 10k index threshold, PQ+re-rank above it,
        # routing replayed by the oracle's count comparison
        "q_knn_default": pq.q_knn_default,
        "q_knn_ivfpq": pq.q_knn_ivfpq,
        "q_knn_ivfpq_rerank": pq.q_knn_ivfpq_rerank,
        "q_events_decay_score": events.q_events_decay_score,
        "q_events_grid_clusters": density.q_events_grid_clusters,
        "q_benchmark_contamination": dedup.q_benchmark_contamination,
        "q_dedup_clusters": dedup.q_dedup_clusters,
        "q_doc_pack_sequences": packing.q_doc_pack_sequences,
        "q_doc_repetition": quality.q_doc_repetition,
        "q_doc_pii_redact": quality.q_doc_pii_redact,
        "q_doc_decontaminate": quality.q_doc_decontaminate,
        "q_doc_mixture_plan": sampling.q_doc_mixture_plan,
        "q_doc_length_buckets": packing.q_doc_length_buckets,
        "q10_returned_revenue": relational.q10_returned_revenue,
        "q_status_price_quantiles": relational.q_status_price_quantiles,
        "q_media_dims": multimodal.q_media_dims,
        "q2_min_price_part": tpch.q2_min_price_part,
        "q11_part_value_concentration": tpch.q11_part_value_concentration,
        "q16_supplier_part_variety": tpch.q16_supplier_part_variety,
        "q20_excess_shippers": tpch.q20_excess_shippers,
        "q7_volume_shipping": tpch.q7_volume_shipping,
        "q8_market_share": tpch.q8_market_share,
        "q9_profit_by_nation": tpch.q9_profit_by_nation,
        "q13_order_distribution": tpch.q13_order_distribution,
        "q14_promo_share": tpch.q14_promo_share,
        "q15_top_supplier": tpch.q15_top_supplier,
        "q17_small_qty_revenue": tpch.q17_small_qty_revenue,
        "q18_large_orders": tpch.q18_large_orders,
        "q19_disjunctive_revenue": tpch.q19_disjunctive_revenue,
        "q21_late_sole_shippers": tpch.q21_late_sole_shippers,
        "q22_idle_customers": tpch.q22_idle_customers,
        # (historical r3 batch — freshest rows; r4 note on
        # q_doc_domain_cap / q_events_latest_state skew paths stands:
        # default plans expression-identical, pinned by test_skew.py)
        "q1_pricing_summary": relational.q1_pricing_summary,
        "q3_shipping_priority": relational.q3_shipping_priority,
        "q5_region_revenue": relational.q5_region_revenue,
        "q_top_customers": relational.q_top_customers,
        "q_nation_balance": relational.q_nation_balance,
        "q_part_brand_stats": relational.q_part_brand_stats,
        "q_order_priority": relational.q_order_priority,
        "q_customer_order_rank": relational.q_customer_order_rank,
        "q_monthly_discount": relational.q_monthly_discount,
        "q_rollup_order_stats": relational.q_rollup_order_stats,
        "q_cube_lineitem_flags": relational.q_cube_lineitem_flags,
        "q_grouping_sets_orders": relational.q_grouping_sets_orders,
        "q_pivot_priority_by_status": relational.q_pivot_priority_by_status,
        "q_nation_customer_supplier_balance": (
            relational.q_nation_customer_supplier_balance
        ),
        "q_customers_without_orders": relational.q_customers_without_orders,
        "q_brands_shipped": relational.q_brands_shipped,
        "q_custkeys_1997_not_1998": relational.q_custkeys_1997_not_1998,
        "q_late_ship_priority": relational.q_late_ship_priority,
        "q6_discount_revenue": relational.q6_discount_revenue,
        "q_events_hourly": events.q_events_hourly,
        "q_events_burst": events.q_events_burst,
        "q_events_sessionize": events.q_events_sessionize,
        "q_events_attribution": temporal.q_events_attribution,
        "q_events_error_context": temporal.q_events_error_context,
        "q_events_funnel": events.q_events_funnel,
        "q_events_top_users": events.q_events_top_users,
        "q_events_props": events.q_events_props,
        "q_events_session_native": events.q_events_session_native,
        "q_events_daily_users": relational.q_events_daily_users,
        "q_user_gap_stats": relational.q_user_gap_stats,
        "q_events_retention": events.q_events_retention,
        "q_knn_ivf_det": similarity.q_knn_ivf_det,
        "q_events_anomalous_hours": events.q_events_anomalous_hours,
        "q_events_time_rollup": events.q_events_time_rollup,
        "q_doc_tfidf_topk": frequency.q_doc_tfidf_topk,
        "q_doc_domain_cap": sampling.q_doc_domain_cap,
        "q_doc_shards": sampling.q_doc_shards,
        "q_doc_unigram_nll": quality.q_doc_unigram_nll,
        "q_doc_winnow": quality.q_doc_winnow,
        "q_source_contamination": quality.q_source_contamination,
        "q_doc_winnow_pairs": quality.q_doc_winnow_pairs,
        "q_embedding_shard_stats": similarity.q_embedding_shard_stats,
        "q_events_latest_state": events.q_events_latest_state,
        "q_events_rolling_7d": events.q_events_rolling_7d,
        "q_events_active_users": events.q_events_active_users,
        "q_media_frames": multimodal.q_media_frames,
        "q12_priority_by_returnflag": tpch.q12_priority_by_returnflag,
        "q4_order_priority": tpch.q4_order_priority,
        "q_media_features": multimodal.q_media_features,
    }
    # Rotation head: the round-10 additions, the r5-latest backlog,
    # the round-10 code-touched queries, then the round-10b additions.
    # Every other query follows in registry order.
    new_r10 = [
        "q_embedding_knn_outliers_ivf",
        "q_lineitem_aqp_quantile_sample",
        "q4_order_priority",
        "q_events_xcorr",
        "q_events_seasonal_anomaly",
        "q_orders_dependence_profile",
        "q_events_theil_sen",
        "q_orders_benford",
        "q_stream_itemsim_maintenance",
    ]
    backlog_r10 = [
        "q_ngram_jaccard",
        "q_doc_stats",
        "q_doc_fingerprints",
        "q_doc_lang_stats",
        "q_doc_lang_id",
        "q_minhash_lsh",
        "q_simhash_neardup",
        "q_stream_snapshots",
        "q_corpus_curation",
        "q_doc_quality",
        "q_doc_token_counts",
        "q_doc_snapshots",
        "q_doc_topk_cumulative",
        "q_doc_burst",
        "q_knn_bruteforce",
        "q_embedding_neardup_anchor",
        "q_doc_sample_stratified",
        "q_benchmark_contamination",
        "q_dedup_clusters",
        "q_doc_mixture_plan",
        "q10_returned_revenue",
        "q_status_price_quantiles",
        "q_media_dims",
        "q2_min_price_part",
        "q11_part_value_concentration",
        "q16_supplier_part_variety",
        "q20_excess_shippers",
        "q7_volume_shipping",
        "q8_market_share",
        "q9_profit_by_nation",
        "q13_order_distribution",
        "q14_promo_share",
        "q15_top_supplier",
        "q17_small_qty_revenue",
        "q18_large_orders",
        "q19_disjunctive_revenue",
        "q21_late_sole_shippers",
        "q22_idle_customers",
    ]
    touched_r10 = [
        "q_events_mi",
        "q_events_chi2",
        "q_stream_mi_maintenance",
        "q_stream_chi2_maintenance",
        "q_orders_fd_profile",
    ]
    new_r10b = [
        "q_part_hop_distance",
        "q_events_hbos",
        "q_bloom_join_revenue",
        "q_stream_bfs_maintenance",
    ]
    head = new_r10 + backlog_r10 + touched_r10 + new_r10b
    ordered = {k: reg[k] for k in head if k in reg}
    ordered.update({k: v for k, v in reg.items() if k not in ordered})
    return ordered


# ---------------------------------------------------------------------------
# Oracle SQL (DuckDB dialect). Shared literals are interpolated from the
# same Python constants the Spark plans use, so the two sides cannot drift.
# ---------------------------------------------------------------------------

_STOP_LIST = ", ".join(
    f"'{w}'" for w in sorted(set(ENGLISH_STOPWORDS) | set(SKIPWORDS))
)
_STOP_ONLY_LIST = ", ".join(f"'{w}'" for w in sorted(set(ENGLISH_STOPWORDS)))

# Tokenizer CTE fragment: lower → split on non-letter runs → drop empties →
# drop stop/skip-words. Mirrors functions/text.py::tokenize+remove_stopwords.
_TOKS_CTE = f"""
tok_base AS (
    SELECT doc_id, source,
           list_filter(string_split_regex(lower(text), '[^\\p{{L}}]+'),
                       x -> x <> '') AS raw_toks
    FROM documents
),
tok_clean AS (
    SELECT doc_id, source,
           list_filter(raw_toks, x -> x NOT IN ({_STOP_LIST})) AS toks
    FROM tok_base
)
"""

# Positioned raw tokens (no stopword removal — shingling uses raw tokens,
# mirroring dedup.py::_doc_shingles) and 3-shingles.
_SHINGLE_CTE = """
tok_pos AS (
    SELECT doc_id,
           unnest(raw_toks) AS tok,
           unnest(range(1, len(raw_toks) + 1)) AS pos
    FROM tok_base
),
sh AS (
    SELECT a.doc_id, a.pos, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
    FROM tok_pos a
    JOIN tok_pos b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    JOIN tok_pos c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
)
"""


def _lang_hits_exprs() -> str:
    cols = []
    for lang, words in sorted(LANG_MARKERS.items()):
        lst = ", ".join(f"'{w}'" for w in words)
        cols.append(
            f"len(list_filter(raw_toks, x -> x IN ({lst}))) AS h_{lang}"
        )
    return ",\n           ".join(cols)


def oracle_sql() -> dict[str, str]:
    sql: dict[str, str] = {}

    sql["q1_pricing_summary"] = f"""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               {stable_avg_sql('l_quantity', 2)} AS avg_qty,
               {stable_avg_sql('l_extendedprice', 2)} AS avg_price,
               {stable_avg_sql('l_discount', 4)} AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-12-01'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """

    sql["q3_shipping_priority"] = """
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01'
          AND l_shipdate > TIMESTAMP '1997-01-01'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """

    sql["q5_region_revenue"] = """
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND c_nationkey = s_nationkey
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1999-01-01'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
    """

    sql["q_top_customers"] = """
        WITH totals AS (
            SELECT o_custkey,
                   round(sum(o_totalprice), 2) AS total_spent,
                   count(*) AS order_count
            FROM orders GROUP BY o_custkey
        )
        SELECT c_custkey AS custkey, c_name, total_spent, order_count
        FROM totals JOIN customer ON o_custkey = c_custkey
        ORDER BY total_spent DESC, custkey
        LIMIT 10
    """

    sql["q_nation_balance"] = f"""
        SELECT n_name,
               count(*) AS num_customers,
               round(sum(c_acctbal), 2) AS total_acctbal,
               {stable_avg_sql('c_acctbal', 2)} AS avg_acctbal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        ORDER BY n_name
    """

    sql["q_part_brand_stats"] = f"""
        SELECT p_brand,
               count(*) AS num_parts,
               {stable_avg_sql('p_retailprice', 2)} AS avg_retailprice,
               round(avg(p_size), 2) AS avg_size,
               max(p_size) AS max_size
        FROM part
        GROUP BY p_brand
        ORDER BY p_brand
    """

    sql["q_order_priority"] = """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """

    sql["q_customer_order_rank"] = """
        WITH ranked AS (
            SELECT o_custkey AS custkey, o_orderkey AS orderkey,
                   round(o_totalprice, 2) AS totalprice,
                   row_number() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey
                   ) AS rank_in_customer
            FROM orders
        )
        SELECT custkey, orderkey, totalprice, rank_in_customer
        FROM ranked WHERE rank_in_customer <= 3
        ORDER BY custkey, rank_in_customer
    """

    sql["q_monthly_discount"] = f"""
        SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS ship_month,
               {stable_avg_sql('l_discount', 4)} AS avg_discount,
               round(sum(l_quantity), 2) AS sum_qty,
               count(*) AS num_items
        FROM lineitem
        GROUP BY 1
        ORDER BY ship_month
    """

    sql["q_rollup_order_stats"] = """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS order_count,
               round(sum(o_totalprice), 2) AS total_value
        FROM orders
        GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        ORDER BY o_orderstatus NULLS LAST, o_orderpriority NULLS LAST
    """

    sql["q_cube_lineitem_flags"] = """
        SELECT l_returnflag, l_linestatus,
               count(*) AS item_count,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem
        GROUP BY CUBE(l_returnflag, l_linestatus)
        ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST
    """

    sql["q_grouping_sets_orders"] = """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS order_count,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus NULLS LAST, o_orderpriority NULLS LAST
    """

    sql["q_pivot_priority_by_status"] = """
        SELECT o_orderpriority,
               count(*) FILTER (o_orderstatus = 'F') AS status_f,
               count(*) FILTER (o_orderstatus = 'O') AS status_o,
               count(*) FILTER (o_orderstatus = 'P') AS status_p
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """

    sql["q_nation_customer_supplier_balance"] = """
        WITH c AS (
            SELECT c_nationkey AS nationkey, count(*) AS num_customers
            FROM customer GROUP BY 1
        ),
        s AS (
            SELECT s_nationkey AS nationkey, count(*) AS num_suppliers
            FROM supplier GROUP BY 1
        )
        SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
               coalesce(num_customers, 0) AS num_customers,
               coalesce(num_suppliers, 0) AS num_suppliers
        FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
        ORDER BY nationkey
    """

    sql["q_customers_without_orders"] = """
        SELECT c_custkey AS custkey, c_name, c_mktsegment
        FROM customer
        WHERE NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey
              AND o_orderdate >= TIMESTAMP '1999-01-01'
        )
        ORDER BY custkey
    """

    sql["q_brands_shipped"] = """
        SELECT p_brand, count(*) AS shipped_parts
        FROM part
        WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
        GROUP BY p_brand
        ORDER BY p_brand
    """

    sql["q_custkeys_1997_not_1998"] = """
        SELECT DISTINCT custkey FROM (
            SELECT o_custkey AS custkey FROM orders
            WHERE o_orderdate >= TIMESTAMP '1997-01-01'
              AND o_orderdate < TIMESTAMP '1998-01-01'
            EXCEPT
            SELECT o_custkey AS custkey FROM orders
            WHERE o_orderdate >= TIMESTAMP '1998-01-01'
              AND o_orderdate < TIMESTAMP '1999-01-01'
        )
        ORDER BY custkey
    """

    sql["q_late_ship_priority"] = """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
          AND EXISTS (
              SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY
          )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """

    sql["q6_discount_revenue"] = """
        SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
               count(*) AS item_count
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
    """

    sql["q10_returned_revenue"] = """
        SELECT c_custkey AS custkey, c_name, n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, custkey
        LIMIT 20
    """

    sql["q_status_price_quantiles"] = """
        SELECT o_orderstatus,
               count(*) AS n_orders,
               round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
               round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
               round(quantile_cont(o_totalprice, 0.99), 4) AS p99
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """

    sql["q_user_gap_stats"] = """
        WITH gaps AS (
            SELECT user_id,
                   epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS gap_ms
            FROM events
        )
        SELECT user_id,
               count(*) AS n_gaps,
               round(CAST(sum(gap_ms) AS DOUBLE) / count(*), 2) AS avg_gap_ms,
               max(gap_ms) AS max_gap_ms
        FROM gaps WHERE gap_ms IS NOT NULL
        GROUP BY user_id
        ORDER BY user_id
    """

    sql["q_events_daily_users"] = """
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS event_day,
               count(DISTINCT user_id) AS distinct_users,
               count(*) AS event_count
        FROM events
        GROUP BY 1
        ORDER BY event_day
    """

    sql["q_events_hourly"] = """
        SELECT date_trunc('hour', ts) AS event_hour, event_type,
               count(*) AS event_count,
               round(sum(value), 2) AS total_value
        FROM events
        GROUP BY 1, 2
        ORDER BY event_hour, event_type
    """

    sql["q_events_burst"] = """
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS event_hour, event_type,
                   count(*) AS recent_count
            FROM events GROUP BY 1, 2
        ), lagged AS (
            SELECT event_type, event_hour, recent_count,
                   lag(event_hour) OVER w AS prev_hour,
                   lag(recent_count) OVER w AS prev_count_raw
            FROM hourly
            WINDOW w AS (PARTITION BY event_type ORDER BY event_hour)
        ), scored AS (
            SELECT event_type, event_hour, recent_count,
                   CASE WHEN prev_hour = event_hour - INTERVAL 1 HOUR
                        THEN prev_count_raw ELSE 0 END AS prev_count,
                   round((recent_count + 1.0) /
                         (CASE WHEN prev_hour = event_hour - INTERVAL 1 HOUR
                               THEN prev_count_raw ELSE 0 END + 1.0), 4) AS ratio
            FROM lagged
        )
        SELECT event_type, event_hour, recent_count, prev_count, ratio
        FROM scored
        WHERE recent_count >= 5 AND ratio >= 2.0
        ORDER BY ratio DESC, recent_count DESC, event_type, event_hour
    """

    sql["q_events_sessionize"] = """
        WITH marked AS (
            SELECT user_id, value, ts, event_id,
                   epoch_ms(ts) AS ts_ms,
                   CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                             OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), numbered AS (
            SELECT user_id, value, ts_ms,
                   CAST(sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS session_seq
            FROM marked
        )
        SELECT user_id, session_seq,
               count(*) AS session_events,
               max(ts_ms) - min(ts_ms) AS duration_ms,
               round(sum(value), 2) AS session_value
        FROM numbered
        GROUP BY user_id, session_seq
        ORDER BY user_id, session_seq
    """

    sql["q_events_attribution"] = """
        SELECT p.event_id AS purchase_id, p.user_id,
               c.event_id AS click_id,
               epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts >= c.ts
        ORDER BY purchase_id
    """

    sql["q_events_error_context"] = """
        WITH errors AS (
            SELECT event_id, user_id, ts FROM events
            WHERE event_type = 'error'
        ),
        pairs AS (
            SELECT e.event_id AS error_id, e.user_id,
                   o.event_id AS other_id, o.value
            FROM errors e
            JOIN events o
              ON o.user_id = e.user_id
             AND o.event_id <> e.event_id
             AND abs(epoch_us(o.ts) - epoch_us(e.ts)) <= 300000000
        )
        SELECT er.event_id AS error_id, er.user_id,
               count(p.other_id) AS nearby_events,
               round(coalesce(sum(p.value), 0.0), 2) AS nearby_value
        FROM errors er
        LEFT JOIN pairs p ON p.error_id = er.event_id
        GROUP BY er.event_id, er.user_id
        ORDER BY error_id
    """

    sql["q_media_dims"] = """
        SELECT doc_id AS media_id,
               CAST(doc_id % 1024 + 16 AS INTEGER) AS width,
               CAST(n_chars % 768 + 16 AS INTEGER) AS height,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        FROM documents
        ORDER BY media_id
    """

    sql["q_events_funnel"] = """
        WITH s1 AS (
            SELECT user_id AS key, min(epoch_us(ts)) AS stage_1_us
            FROM events WHERE event_type = 'signup' GROUP BY 1
        ),
        s2 AS (
            SELECT e.user_id AS key, min(epoch_us(e.ts)) AS stage_2_us
            FROM events e JOIN s1 ON s1.key = e.user_id
            WHERE e.event_type = 'click' AND epoch_us(e.ts) >= s1.stage_1_us
            GROUP BY 1
        ),
        s3 AS (
            SELECT e.user_id AS key, min(epoch_us(e.ts)) AS stage_3_us
            FROM events e JOIN s2 ON s2.key = e.user_id
            WHERE e.event_type = 'purchase'
              AND epoch_us(e.ts) >= s2.stage_2_us
            GROUP BY 1
        )
        SELECT s1.key AS user_id, s1.stage_1_us, s2.stage_2_us, s3.stage_3_us
        FROM s1
        LEFT JOIN s2 ON s2.key = s1.key
        LEFT JOIN s3 ON s3.key = s1.key
        ORDER BY user_id
    """

    # Each grain aggregates the fact rows directly (matching Spark's
    # grouping-sets plan — one Expand, one aggregate); per-group double
    # summation order is engine-arbitrary either way, and round(2)
    # absorbs the ~1e-13 relative re-association error exactly as it
    # does for every other checked double sum.
    sql["q_events_time_rollup"] = """
        SELECT grain, bucket_ts, key, event_count,
               round(s, 2) AS total_value
        FROM (
            SELECT 'minute' AS grain,
                   CAST(date_trunc('minute', ts) AS TIMESTAMP) AS bucket_ts,
                   event_type AS key,
                   CAST(count(*) AS BIGINT) AS event_count,
                   sum(value) AS s
            FROM events GROUP BY 2, 3
            UNION ALL
            SELECT 'hour',
                   CAST(date_trunc('hour', ts) AS TIMESTAMP),
                   event_type,
                   CAST(count(*) AS BIGINT),
                   sum(value)
            FROM events GROUP BY 2, 3
            UNION ALL
            SELECT 'day',
                   CAST(date_trunc('day', ts) AS TIMESTAMP),
                   event_type,
                   CAST(count(*) AS BIGINT),
                   sum(value)
            FROM events GROUP BY 2, 3
        )
        ORDER BY grain, bucket_ts, key
    """

    sql["q_events_session_native"] = """
        WITH marked AS (
            SELECT user_id,
                   CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                             OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
                        THEN 1 ELSE 0 END AS new_session,
                   ts, event_id
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), numbered AS (
            SELECT user_id,
                   sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS session_seq
            FROM marked
        ), sessions AS (
            SELECT user_id, session_seq, count(*) AS session_events
            FROM numbered GROUP BY user_id, session_seq
        )
        SELECT user_id,
               count(*) AS n_sessions,
               CAST(sum(session_events) AS BIGINT) AS n_events,
               CAST(max(session_events) AS BIGINT) AS max_session_events
        FROM sessions
        GROUP BY user_id
        ORDER BY user_id
    """

    sql["q_events_top_users"] = """
        SELECT user_id, count(*) AS event_count,
               round(sum(value), 2) AS total_value
        FROM events
        GROUP BY user_id
        ORDER BY event_count DESC, user_id
        LIMIT 20
    """

    sql["q_events_props"] = """
        WITH extracted AS (
            SELECT event_type,
                   TRY_CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS INTEGER) AS k_val
            FROM events
        )
        SELECT event_type, round(avg(k_val), 4) AS avg_k, count(*) AS n
        FROM extracted WHERE k_val IS NOT NULL
        GROUP BY event_type
        ORDER BY event_type
    """

    sql["q_doc_tokens_topk"] = f"""
        WITH {_TOKS_CTE}
        SELECT token, count(*) AS token_count
        FROM (SELECT unnest(toks) AS token FROM tok_clean)
        GROUP BY token
        ORDER BY token_count DESC, token
        LIMIT 20
    """

    sql["q_doc_term_estimates"] = f"""
        WITH {_TOKS_CTE},
        counts AS (
            SELECT token, count(*) AS token_count
            FROM (SELECT unnest(toks) AS token FROM tok_clean)
            GROUP BY token
        ),
        want(term) AS (VALUES ('spark'), ('table'), ('row'), ('zzz_unseen'))
        SELECT term, coalesce(token_count, 0) AS estimate
        FROM want LEFT JOIN counts ON term = token
        ORDER BY term
    """

    # q_doc_heavy_hitters: the Spark side computes this via the
    # two-pass Misra-Gries candidate plan (bounded per-partition
    # summaries -> exact recount of candidates only); the published
    # filter (exact count >= ceil(N/HH_S), integer arithmetic) is
    # partitioning-independent, so the plain exact-count SQL below
    # replays it (threshold interpolated from frequency.HH_S so the
    # two sides cannot drift).
    sql["q_doc_heavy_hitters"] = f"""
        WITH {_TOKS_CTE},
        counts AS (
            SELECT token, count(*) AS token_count
            FROM (SELECT unnest(toks) AS token FROM tok_clean)
            GROUP BY token
        ),
        n AS (SELECT CAST(sum(token_count) AS BIGINT) AS n FROM counts)
        SELECT token, token_count
        FROM counts, n
        WHERE token_count >= (n + {frequency.HH_S - 1}) // {frequency.HH_S}
        ORDER BY token_count DESC, token
    """
    # streaming heavy-hitter maintenance: k micro-batch count-partial
    # folds must land exactly on the two-pass batch answer — counts are
    # closed under addition, so same oracle.
    sql["q_stream_hh_maintenance"] = sql["q_doc_heavy_hitters"]

    # q_doc_source_heavy_hitters: the keyed two-pass plan publishes
    # with a per-key integer threshold — plain per-key exact counts
    # replay it for the same partitioning-independence reason.
    sql["q_doc_source_heavy_hitters"] = f"""
        WITH {_TOKS_CTE},
        counts AS (
            SELECT source, token, count(*) AS token_count
            FROM (SELECT source, unnest(toks) AS token FROM tok_clean
                  WHERE source IS NOT NULL)
            GROUP BY source, token
        ),
        n AS (
            SELECT source, CAST(sum(token_count) AS BIGINT) AS n
            FROM counts GROUP BY source
        )
        SELECT c.source, c.token, c.token_count
        FROM counts c JOIN n ON n.source = c.source
        WHERE c.token_count >= (n + {frequency.HH_S - 1}) // {frequency.HH_S}
        ORDER BY c.source, c.token_count DESC, c.token
    """

    sql["q_doc_vocab_stats"] = f"""
        WITH {_TOKS_CTE}
        SELECT count(*) AS total_tokens,
               count(DISTINCT token) AS distinct_tokens,
               round(count(DISTINCT token) / count(*), 6) AS type_token_ratio
        FROM (SELECT unnest(toks) AS token FROM tok_clean)
    """

    sql["q_doc_bigrams"] = f"""
        WITH {_TOKS_CTE},
        tok_pos2 AS (
            SELECT doc_id,
                   unnest(toks) AS tok,
                   unnest(range(1, len(toks) + 1)) AS pos
            FROM tok_clean
        ),
        bg AS (
            SELECT a.tok || ' ' || b.tok AS bigram
            FROM tok_pos2 a
            JOIN tok_pos2 b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        )
        SELECT bigram, count(*) AS bigram_count
        FROM bg
        GROUP BY bigram
        ORDER BY bigram_count DESC, bigram
        LIMIT 15
    """

    # q_token_triangles: the oracle enumerates triangles canonically
    # (a<b<c three-way self-join over the same min-count-2 adjacency
    # edge set); the Spark side's degree-oriented enumeration yields
    # the identical triangle SET, so per-node counts match exactly.
    sql["q_token_triangles"] = f"""
        WITH {_TOKS_CTE},
        tp AS (
            SELECT doc_id, unnest(toks) AS tok,
                   unnest(range(1, len(toks) + 1)) AS pos
            FROM tok_clean
        ),
        bgp AS (
            SELECT least(a.tok, b.tok) AS a,
                   greatest(a.tok, b.tok) AS b
            FROM tp a
            JOIN tp b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
            WHERE a.tok <> b.tok
        ),
        e AS (
            SELECT a, b FROM bgp GROUP BY a, b HAVING count(*) >= 2
        ),
        tris AS (
            SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM e e1
            JOIN e e2 ON e2.a = e1.b
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        ),
        nodes AS (SELECT unnest([x, y, z]) AS token FROM tris)
        SELECT token, count(*) AS triangles,
               CAST(row_number() OVER (ORDER BY count(*) DESC, token)
                    AS INT) AS rank
        FROM nodes
        GROUP BY token
        ORDER BY triangles DESC, token
        LIMIT 20
    """

    sql["q_doc_source_topk"] = f"""
        WITH {_TOKS_CTE},
        counts AS (
            SELECT source, token, count(*) AS token_count
            FROM (SELECT source, unnest(toks) AS token FROM tok_clean)
            GROUP BY source, token
        ),
        ranked AS (
            SELECT source, token, token_count,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY token_count DESC, token
                   ) AS rnk
            FROM counts
        )
        SELECT source, token, token_count, rnk
        FROM ranked WHERE rnk <= 5
        ORDER BY source, rnk
    """

    sql["q_dup_scores"] = f"""
        WITH {_TOKS_CTE},
        {_SHINGLE_CTE},
        hits AS (
            SELECT doc_id,
                   CASE WHEN min(doc_id) OVER (PARTITION BY shingle) < doc_id
                        THEN 1 ELSE 0 END AS hit
            FROM sh
        ),
        scored AS (
            SELECT doc_id, round(avg(hit), 4) AS duplicate_score
            FROM hits GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(s.duplicate_score, 0.0) AS duplicate_score,
               coalesce(s.duplicate_score, 0.0) >= 0.7 AS is_duplicate
        FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
        ORDER BY d.doc_id
    """

    sql["q_dup_summary"] = f"""
        WITH {_TOKS_CTE},
        {_SHINGLE_CTE},
        hits AS (
            SELECT doc_id,
                   CASE WHEN min(doc_id) OVER (PARTITION BY shingle) < doc_id
                        THEN 1 ELSE 0 END AS hit
            FROM sh
        ),
        scored AS (
            SELECT doc_id, round(avg(hit), 4) AS duplicate_score
            FROM hits GROUP BY doc_id
        ),
        full_scores AS (
            SELECT coalesce(s.duplicate_score, 0.0) AS duplicate_score,
                   CASE WHEN coalesce(s.duplicate_score, 0.0) >= 0.7
                        THEN 1 ELSE 0 END AS is_dup
            FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
        )
        SELECT count(*) AS processed,
               CAST(sum(is_dup) AS BIGINT) AS duplicate_count,
               round(avg(is_dup), 4) AS duplicate_rate,
               {stable_avg_sql('duplicate_score', 4)} AS avg_duplicate_score
        FROM full_scores
    """

    sql["q_exact_duplicates"] = """
        WITH hashed AS (
            SELECT doc_id,
                   md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS content_hash
            FROM documents
        )
        SELECT content_hash, count(*) AS group_size, min(doc_id) AS keeper_id
        FROM hashed
        GROUP BY content_hash
        HAVING count(*) > 1
        ORDER BY content_hash
    """

    # q_doc_span_dedup: exact-substring dedup (Lee et al. 2022 shape) —
    # fixed 16-token non-overlapping spans, keep the globally first
    # occurrence of each span hash in (doc_id, span_idx) stream order,
    # attest the rebuilt text by md5.
    sql["q_doc_span_dedup"] = """
        WITH base AS (
            SELECT doc_id,
                   CASE WHEN length(text) = 0 THEN []
                        ELSE string_split(text, ' ') END AS toks
            FROM documents
        ),
        spans AS (
            SELECT b.doc_id, i.i AS span_idx,
                   array_to_string(
                       list_slice(b.toks, i.i*16 + 1, i.i*16 + 16), ' '
                   ) AS span_text
            FROM base b
            JOIN LATERAL (
                SELECT unnest(generate_series(
                    0, CAST(ceil(len(b.toks)/16.0) AS BIGINT) - 1)) AS i
            ) i ON true
        ),
        flagged AS (
            SELECT doc_id, span_idx, span_text,
                   row_number() OVER (
                       PARTITION BY md5(span_text)
                       ORDER BY doc_id, span_idx) AS rn
            FROM spans
        )
        SELECT doc_id,
               count(*) AS n_spans,
               count(*) FILTER (WHERE rn = 1) AS kept_spans,
               count(*) FILTER (WHERE rn > 1) AS removed_spans,
               md5(coalesce(string_agg(span_text, ' ' ORDER BY span_idx)
                                FILTER (WHERE rn = 1), '')) AS clean_hash,
               CAST(coalesce(sum(len(string_split(span_text, ' ')))
                                 FILTER (WHERE rn = 1), 0)
                    AS BIGINT) AS kept_tokens
        FROM flagged GROUP BY doc_id ORDER BY doc_id
    """

    # q_doc_snm_pairs: multi-pass sorted-neighborhood (Hernández &
    # Stolfo '95) — the oracle replays the two blocking-key sorts with
    # plain row_number (the Spark side's bucketed two-phase position
    # yields the identical (key, doc_id) total order), the window-5
    # successor pairing, the cross-pass dedup, and the exact token-set
    # Jaccard verification.
    sql["q_doc_snm_pairs"] = """
        WITH base AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text),
                                                  '[^\\p{L}]+'),
                               x -> x <> '') AS raw
            FROM documents
        ),
        keyed AS (
            SELECT doc_id,
                   list_sort(list_distinct(raw)) AS toks,
                   substr(array_to_string(
                       list_sort(list_distinct(raw)), ''), 1, 24) AS k1,
                   substr(array_to_string(raw, ''), 1, 24) AS k2
            FROM base
        ),
        p1 AS (SELECT doc_id, toks,
                      row_number() OVER (ORDER BY k1, doc_id) AS rn
               FROM keyed),
        p2 AS (SELECT doc_id, toks,
                      row_number() OVER (ORDER BY k2, doc_id) AS rn
               FROM keyed),
        cand AS (
            SELECT a.doc_id AS da, b.doc_id AS db,
                   a.toks AS ta, b.toks AS tb
            FROM p1 a JOIN p1 b
              ON b.rn > a.rn AND b.rn <= a.rn + 5
            UNION ALL
            SELECT a.doc_id, b.doc_id, a.toks, b.toks
            FROM p2 a JOIN p2 b
              ON b.rn > a.rn AND b.rn <= a.rn + 5
        ),
        canon AS (
            SELECT DISTINCT
                   least(da, db) AS doc_a,
                   greatest(da, db) AS doc_b,
                   CASE WHEN da < db THEN ta ELSE tb END AS ta,
                   CASE WHEN da < db THEN tb ELSE ta END AS tb
            FROM cand
        ),
        ver AS (
            SELECT doc_a, doc_b,
                   len(list_intersect(ta, tb)) AS shared,
                   len(ta) + len(tb) - len(list_intersect(ta, tb)) AS u
            FROM canon
        )
        SELECT doc_a, doc_b, round(shared / u, 4) AS jaccard
        FROM ver
        WHERE u > 0 AND round(shared / u, 4) >= 0.5
        ORDER BY doc_a, doc_b
    """

    sql["q_ngram_jaccard"] = f"""
        WITH {_TOKS_CTE},
        {_SHINGLE_CTE},
        dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
        sizes AS (SELECT doc_id, count(*) AS set_size FROM dsh GROUP BY doc_id),
        shared AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
            FROM dsh a JOIN dsh b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT doc_a, doc_b,
               round(shared / (sa.set_size + sb.set_size - shared), 4) AS jaccard
        FROM shared
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE round(shared / (sa.set_size + sb.set_size - shared), 4) >= 0.5
        ORDER BY doc_a, doc_b
    """

    sql["q_doc_stats"] = f"""
        WITH {_TOKS_CTE}
        SELECT doc_id,
               length(text) AS num_chars,
               len(raw_toks) AS num_tokens,
               len(list_distinct(raw_toks)) AS num_distinct_tokens,
               round(CASE WHEN len(raw_toks) > 0
                     THEN len(list_filter(raw_toks, x -> x IN ({_STOP_ONLY_LIST})))
                          / len(raw_toks)
                     ELSE 0.0 END, 4) AS stopword_ratio,
               round(CASE WHEN len(raw_toks) > 0
                     THEN list_aggregate(list_transform(raw_toks, x -> length(x)), 'sum')
                          / len(raw_toks)
                     ELSE 0.0 END, 4) AS avg_token_len
        FROM tok_base JOIN documents USING (doc_id)
        ORDER BY doc_id
    """

    sql["q_doc_fingerprints"] = """
        SELECT doc_id,
               md5(array_to_string(
                   list_filter(string_split_regex(lower(text), '[^\\p{L}]+'),
                               x -> x <> ''), ' ')) AS fingerprint
        FROM documents
        ORDER BY doc_id
    """

    sql["q_doc_quality"] = f"""
        WITH tok_base AS (
            SELECT doc_id, text,
                   list_filter(string_split_regex(lower(text), '[^\\p{{L}}]+'),
                               x -> x <> '') AS raw_toks
            FROM documents
        ),
        feats AS (
            SELECT doc_id,
                   len(raw_toks) AS n_tokens,
                   round(CASE WHEN len(raw_toks) > 0
                         THEN len(list_filter(raw_toks, x -> x IN ({_STOP_ONLY_LIST})))
                              / len(raw_toks) ELSE 0.0 END, 4) AS stopword_ratio,
                   round(CASE WHEN length(text) > 0
                         THEN (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))
                              / length(text) ELSE 0.0 END, 4) AS punct_ratio
            FROM tok_base
        )
        SELECT doc_id,
               round((least(n_tokens / 100.0, 1.0)
                      + (1.0 - abs(stopword_ratio - 0.4))
                      + (1.0 - least(punct_ratio * 4, 1.0))) / 3.0, 4) AS quality_score
        FROM feats
        ORDER BY doc_id
    """

    sql["q_doc_token_counts"] = """
        SELECT doc_id,
               len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
                   AS ws_tokens,
               len(regexp_extract_all(text,
                   '''(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+'))
                   AS bpe_ish_tokens
        FROM documents
        ORDER BY doc_id
    """

    sql["q_corpus_curation"] = f"""
        WITH {_TOKS_CTE},
        {_SHINGLE_CTE},
        feats AS (
            SELECT doc_id,
                   len(raw_toks) AS n_tokens,
                   round(CASE WHEN len(raw_toks) > 0
                         THEN len(list_filter(raw_toks, x -> x IN ({_STOP_ONLY_LIST})))
                              / len(raw_toks) ELSE 0.0 END, 4) AS stopword_ratio
            FROM tok_base
        ),
        gated AS (
            SELECT d.doc_id, d.text
            FROM documents d JOIN feats USING (doc_id)
            WHERE feats.n_tokens >= 5 AND feats.stopword_ratio <= 0.9
        ),
        hashed AS (
            SELECT doc_id,
                   md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS h
            FROM gated
        ),
        exact_kept AS (
            SELECT doc_id FROM hashed
            WHERE doc_id IN (SELECT min(doc_id) FROM hashed GROUP BY h)
        ),
        dsh AS (
            SELECT DISTINCT s.doc_id, s.shingle FROM sh s
            JOIN exact_kept k ON s.doc_id = k.doc_id
        ),
        sizes AS (SELECT doc_id, count(*) AS set_size FROM dsh GROUP BY doc_id),
        shared AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
            FROM dsh a JOIN dsh b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        near_losers AS (
            SELECT DISTINCT doc_b AS doc_id
            FROM shared
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE round(shared / (sa.set_size + sb.set_size - shared), 4) >= 0.5
        )
        SELECT doc_id FROM exact_kept
        WHERE doc_id NOT IN (SELECT doc_id FROM near_losers)
        ORDER BY doc_id
    """

    # q_corpus_curation_incremental: the oracle is the FULL v1 curation
    # pipeline over the whole table plus the snapshot/delta flag (ids >
    # floor(0.8 * max id) are the delta crawl) — a green row is a
    # cross-engine attestation that the Spark incremental merge equals
    # a full rerun on the merged corpus.
    sql["q_corpus_curation_incremental"] = sql["q_corpus_curation"].replace(
        "SELECT doc_id FROM exact_kept",
        """SELECT doc_id,
               CAST(doc_id > (SELECT CAST(floor(max(doc_id) * 0.8) AS BIGINT)
                              FROM documents) AS INT) AS is_new
        FROM exact_kept""",
    )
    # q_stream_curation_maintenance: identical output contract — the
    # foreachBatch-driven merge must land on the same full-rerun
    # manifest as the one-shot incremental (k micro-batch merges ==
    # one full rerun, proven cross-engine).
    sql["q_stream_curation_maintenance"] = sql[
        "q_corpus_curation_incremental"
    ]

    # q_sql_region_revenue: the SQL front door's oracle IS the query —
    # one ANSI string both engines run verbatim (exact integer cents,
    # so no float surface to reconcile).
    sql["q_sql_region_revenue"] = relational.REGION_REVENUE_SQL

    # q_doc_bpe_train / q_doc_bpe_segment: the iterative BPE merge loop,
    # unrolled to 8 CTE stages sharing the delimiter-string encoding and
    # left-to-right non-overlapping replace() with the Spark operator
    # (operators/bpe.py — the generator lives next to the operator so
    # both renderings derive from the same constants).
    sql["q_doc_bpe_train"] = bpe.bpe_train_oracle_sql(_TOKS_CTE, n_merges=8)
    sql["q_doc_bpe_segment"] = bpe.bpe_segment_oracle_sql(
        _TOKS_CTE, n_merges=8
    )

    # q_stream_join_attribution: batch interval-join twin of the
    # watermarked stream-stream join — per-purchase prior-click rollup
    # in exact integer cents.
    sql["q_stream_join_attribution"] = """
        WITH purchases AS (
            SELECT event_id AS purchase_id, user_id, ts FROM events
            WHERE event_type = 'purchase'
        ),
        clicks AS (
            SELECT event_id AS click_id, user_id, ts, value FROM events
            WHERE event_type = 'click'
        ),
        pairs AS (
            SELECT p.purchase_id, p.user_id, c.value
            FROM purchases p JOIN clicks c
              ON c.user_id = p.user_id
             AND epoch_us(c.ts) <= epoch_us(p.ts)
             AND epoch_us(c.ts) > epoch_us(p.ts) - CAST(14400000000 AS BIGINT)
        )
        SELECT purchase_id, user_id,
               CAST(count(*) AS BIGINT) AS n_prior_clicks,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS click_value_cents
        FROM pairs GROUP BY purchase_id, user_id
        ORDER BY purchase_id
    """

    sql["q_doc_lang_stats"] = """
        SELECT lang, count(*) AS num_docs,
               round(avg(n_chars), 2) AS avg_chars,
               min(n_chars) AS min_chars,
               max(n_chars) AS max_chars
        FROM documents
        GROUP BY lang
        ORDER BY lang
    """

    sql["q_doc_lang_id"] = f"""
        WITH tok_base AS (
            SELECT doc_id, lang,
                   list_filter(string_split_regex(lower(text), '[^\\p{{L}}]+'),
                               x -> x <> '') AS raw_toks
            FROM documents
        ),
        hits AS (
            SELECT doc_id, lang,
                   {_lang_hits_exprs()}
            FROM tok_base
        ),
        pred AS (
            SELECT lang,
                   CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
                        WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
                        WHEN h_fr = greatest(h_de, h_es, h_fr) THEN 'fr'
                        WHEN h_es = greatest(h_de, h_es) THEN 'es'
                        ELSE 'de' END AS predicted_lang
            FROM hits
        )
        SELECT lang, predicted_lang, count(*) AS num_docs
        FROM pred
        GROUP BY lang, predicted_lang
        ORDER BY lang, predicted_lang
    """

    # ordered-stream CTE: row position + 100-doc snapshot bucket
    _ord_cte = """
        ord AS (
            SELECT doc_id, toks,
                   row_number() OVER (ORDER BY doc_id) AS rn,
                   CAST(floor((row_number() OVER (ORDER BY doc_id) - 1) / 100)
                        AS BIGINT) AS bucket
            FROM tok_clean
        )
    """

    sql["q_doc_snapshots"] = f"""
        WITH {_TOKS_CTE},
        {_SHINGLE_CTE},
        {_ord_cte},
        hits AS (
            SELECT doc_id,
                   CASE WHEN min(doc_id) OVER (PARTITION BY shingle) < doc_id
                        THEN 1 ELSE 0 END AS hit
            FROM sh
        ),
        dscored AS (
            SELECT doc_id, round(avg(hit), 4) AS duplicate_score
            FROM hits GROUP BY doc_id
        ),
        flags AS (
            SELECT o.bucket, o.rn,
                   CASE WHEN coalesce(s.duplicate_score, 0.0) >= 0.7
                        THEN 1 ELSE 0 END AS is_dup
            FROM ord o LEFT JOIN dscored s ON o.doc_id = s.doc_id
        ),
        counters AS (
            SELECT bucket,
                   CAST(max(rn) AS BIGINT) AS message_count,
                   CAST(sum(is_dup) AS BIGINT) AS dups_in_period
            FROM flags GROUP BY bucket
        ),
        toks_per_bucket AS (
            SELECT bucket, CAST(count(DISTINCT token) AS BIGINT) AS distinct_tokens_in_period
            FROM (SELECT bucket, unnest(toks) AS token FROM ord)
            GROUP BY bucket
        )
        SELECT c.bucket AS snapshot_id,
               c.message_count,
               CAST(sum(c.dups_in_period) OVER (
                   ORDER BY c.bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS duplicates_so_far,
               coalesce(t.distinct_tokens_in_period, 0) AS distinct_tokens_in_period
        FROM counters c LEFT JOIN toks_per_bucket t ON c.bucket = t.bucket
        ORDER BY snapshot_id
    """

    sql["q_doc_topk_cumulative"] = f"""
        WITH {_TOKS_CTE},
        {_ord_cte},
        counts AS (
            SELECT bucket, token, count(*) AS cnt
            FROM (SELECT bucket, unnest(toks) AS token FROM ord)
            GROUP BY bucket, token
        ),
        snaps AS (SELECT DISTINCT bucket AS snapshot_id FROM counts),
        cum AS (
            SELECT s.snapshot_id, c.token,
                   CAST(sum(c.cnt) AS BIGINT) AS cum_count
            FROM counts c JOIN snaps s ON c.bucket <= s.snapshot_id
            GROUP BY s.snapshot_id, c.token
        ),
        ranked AS (
            SELECT snapshot_id, token, cum_count,
                   row_number() OVER (
                       PARTITION BY snapshot_id
                       ORDER BY cum_count DESC, token
                   ) AS rnk
            FROM cum
        )
        SELECT snapshot_id, token, cum_count, rnk
        FROM ranked WHERE rnk <= 10
        ORDER BY snapshot_id, rnk
    """

    sql["q_doc_burst"] = f"""
        WITH {_TOKS_CTE},
        {_ord_cte},
        tokrn AS (SELECT rn, unnest(toks) AS token FROM ord),
        bounds AS (
            SELECT CAST(max(rn) AS BIGINT) AS boundary
            FROM ord GROUP BY bucket
        ),
        agg AS (
            SELECT b.boundary, t.token,
                   CAST(sum(CASE WHEN t.rn > b.boundary - 25 THEN 1 ELSE 0 END)
                        AS BIGINT) AS recent_count,
                   CAST(sum(CASE WHEN t.rn <= b.boundary - 25 THEN 1 ELSE 0 END)
                        AS BIGINT) AS prev_count
            FROM tokrn t JOIN bounds b
              ON t.rn > b.boundary - 50 AND t.rn <= b.boundary
            GROUP BY b.boundary, t.token
        )
        SELECT boundary, token, recent_count, prev_count,
               round((recent_count + 1e-6) / (prev_count + 1e-6), 4) AS ratio
        FROM agg
        WHERE recent_count >= 1
          AND (recent_count + 1e-6) / (prev_count + 1e-6) >= 2.0
        ORDER BY boundary, ratio DESC, recent_count DESC, token
    """

    _cos = (
        "list_dot_product(a_vec, b_vec) / "
        "(sqrt(list_dot_product(a_vec, a_vec)) * "
        "sqrt(list_dot_product(b_vec, b_vec)))"
    )

    sql["q_knn_bruteforce"] = f"""
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
        ),
        scored AS (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                   round(list_dot_product(q.vec, n.vec) /
                         (sqrt(list_dot_product(q.vec, q.vec)) *
                          sqrt(list_dot_product(n.vec, n.vec))), 6) AS cosine_sim
            FROM v q JOIN v n ON n.vec_id <> q.vec_id
            WHERE q.vec_id < 5
        ),
        ranked AS (
            SELECT query_id, neighbor_id, cosine_sim,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine_sim DESC, neighbor_id
                   ) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, cosine_sim, rank
        FROM ranked WHERE rank <= 10
        ORDER BY query_id, rank
    """

    # q_mmr_rerank: the same unrolled greedy — candidate pool,
    # pairwise sims, then one argmax stage per result slot; the
    # diversity weight literal is written as repr(1.0 - 0.7) so both
    # engines multiply by the identical double.
    sql["q_mmr_rerank"] = """
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
        ),
        scored AS (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                   round(list_dot_product(q.vec, n.vec) /
                         (sqrt(list_dot_product(q.vec, q.vec)) *
                          sqrt(list_dot_product(n.vec, n.vec))), 6) AS rel
            FROM v q JOIN v n ON n.vec_id <> q.vec_id
            WHERE q.vec_id < 3
        ),
        cand AS (
            SELECT query_id, neighbor_id, rel FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY rel DESC, neighbor_id) AS rn FROM scored)
            WHERE rn <= 20
        ),
        sims AS (
            SELECT a.query_id, a.neighbor_id AS id_a,
                   b.neighbor_id AS id_b,
                   round(list_dot_product(va.vec, vb.vec) /
                         (sqrt(list_dot_product(va.vec, va.vec)) *
                          sqrt(list_dot_product(vb.vec, vb.vec))), 6)
                       AS sim
            FROM cand a JOIN cand b
              ON a.query_id = b.query_id
             AND a.neighbor_id <> b.neighbor_id
            JOIN v va ON va.vec_id = a.neighbor_id
            JOIN v vb ON vb.vec_id = b.neighbor_id
        ),
        s1 AS (
            SELECT query_id, neighbor_id, rel AS mmr_score, 1 AS mmr_rank
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY rel DESC, neighbor_id) AS rn FROM cand)
            WHERE rn = 1
        ),
        sel1 AS (SELECT query_id, neighbor_id FROM s1),
        r2 AS (
            SELECT c.query_id, c.neighbor_id,
                   round(0.7 * c.rel - 0.30000000000000004 * m.maxsim, 6)
                       + 0 AS mmr_score
            FROM cand c
            JOIN (SELECT p.query_id, p.id_a, max(p.sim) AS maxsim
                  FROM sims p JOIN sel1 s
                    ON s.query_id = p.query_id AND s.neighbor_id = p.id_b
                  GROUP BY p.query_id, p.id_a) m
              ON m.query_id = c.query_id AND m.id_a = c.neighbor_id
            WHERE NOT EXISTS (
                SELECT 1 FROM sel1 s
                WHERE s.query_id = c.query_id
                  AND s.neighbor_id = c.neighbor_id)
        ),
        s2 AS (
            SELECT query_id, neighbor_id, mmr_score, 2 AS mmr_rank
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY mmr_score DESC, neighbor_id) AS rn
                  FROM r2)
            WHERE rn = 1
        ),
        sel2 AS (SELECT query_id, neighbor_id FROM sel1
                   UNION ALL SELECT query_id, neighbor_id FROM s2),
        r3 AS (
            SELECT c.query_id, c.neighbor_id,
                   round(0.7 * c.rel - 0.30000000000000004 * m.maxsim, 6)
                       + 0 AS mmr_score
            FROM cand c
            JOIN (SELECT p.query_id, p.id_a, max(p.sim) AS maxsim
                  FROM sims p JOIN sel2 s
                    ON s.query_id = p.query_id AND s.neighbor_id = p.id_b
                  GROUP BY p.query_id, p.id_a) m
              ON m.query_id = c.query_id AND m.id_a = c.neighbor_id
            WHERE NOT EXISTS (
                SELECT 1 FROM sel2 s
                WHERE s.query_id = c.query_id
                  AND s.neighbor_id = c.neighbor_id)
        ),
        s3 AS (
            SELECT query_id, neighbor_id, mmr_score, 3 AS mmr_rank
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY mmr_score DESC, neighbor_id) AS rn
                  FROM r3)
            WHERE rn = 1
        ),
        sel3 AS (SELECT query_id, neighbor_id FROM sel2
                   UNION ALL SELECT query_id, neighbor_id FROM s3),
        r4 AS (
            SELECT c.query_id, c.neighbor_id,
                   round(0.7 * c.rel - 0.30000000000000004 * m.maxsim, 6)
                       + 0 AS mmr_score
            FROM cand c
            JOIN (SELECT p.query_id, p.id_a, max(p.sim) AS maxsim
                  FROM sims p JOIN sel3 s
                    ON s.query_id = p.query_id AND s.neighbor_id = p.id_b
                  GROUP BY p.query_id, p.id_a) m
              ON m.query_id = c.query_id AND m.id_a = c.neighbor_id
            WHERE NOT EXISTS (
                SELECT 1 FROM sel3 s
                WHERE s.query_id = c.query_id
                  AND s.neighbor_id = c.neighbor_id)
        ),
        s4 AS (
            SELECT query_id, neighbor_id, mmr_score, 4 AS mmr_rank
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY mmr_score DESC, neighbor_id) AS rn
                  FROM r4)
            WHERE rn = 1
        ),
        sel4 AS (SELECT query_id, neighbor_id FROM sel3
                   UNION ALL SELECT query_id, neighbor_id FROM s4),
        r5 AS (
            SELECT c.query_id, c.neighbor_id,
                   round(0.7 * c.rel - 0.30000000000000004 * m.maxsim, 6)
                       + 0 AS mmr_score
            FROM cand c
            JOIN (SELECT p.query_id, p.id_a, max(p.sim) AS maxsim
                  FROM sims p JOIN sel4 s
                    ON s.query_id = p.query_id AND s.neighbor_id = p.id_b
                  GROUP BY p.query_id, p.id_a) m
              ON m.query_id = c.query_id AND m.id_a = c.neighbor_id
            WHERE NOT EXISTS (
                SELECT 1 FROM sel4 s
                WHERE s.query_id = c.query_id
                  AND s.neighbor_id = c.neighbor_id)
        ),
        s5 AS (
            SELECT query_id, neighbor_id, mmr_score, 5 AS mmr_rank
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY mmr_score DESC, neighbor_id) AS rn
                  FROM r5)
            WHERE rn = 1
        ),
        sel5 AS (SELECT query_id, neighbor_id FROM sel4
                   UNION ALL SELECT query_id, neighbor_id FROM s5)
        SELECT query_id, mmr_rank, neighbor_id, mmr_score
        FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
              UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
              UNION ALL SELECT * FROM s5)
        ORDER BY query_id, mmr_rank
    """

    # q_kmeans_clusters: DuckDB replays the SAME deterministic Lloyd
    # iterations as kmeans_relational — smallest-id init, index-order
    # zipped-diff distances (list_dot_product), round(dist,6) argmin
    # with cluster-id ties, round(sum,6)/count centroid quantization —
    # as a programmatically built CTE chain (one d/a/cd/c block per
    # iteration).
    _km_k, _km_iters = 10, 2
    _km = [
        """
        v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
              FROM embeddings),
        c0 AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster,
                   vec AS carr
            FROM v
            QUALIFY row_number() OVER (ORDER BY vec_id) <= %d
        )"""
        % _km_k
    ]
    for _t in range(1, _km_iters + 2):
        _prev_c = f"c{_t - 1}"
        _km.append(
            f"""
        d{_t} AS (
            SELECT v.vec_id, v.vec, c.cluster,
                   round(list_dot_product(t.dd, t.dd), 6) AS dist
            FROM v CROSS JOIN {_prev_c} c,
                 LATERAL (SELECT list_transform(
                     list_zip(v.vec, c.carr), s -> s[1] - s[2]) AS dd) t
        ),
        a{_t} AS (
            SELECT vec_id, vec, cluster, dist
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY vec_id ORDER BY dist, cluster) AS rn
                  FROM d{_t})
            WHERE rn = 1
        )"""
        )
        if _t <= _km_iters:
            _km.append(
                f"""
        cd{_t} AS (
            SELECT cluster, i AS dim, round(sum(x), 6)/count(*) AS m
            FROM (SELECT cluster, generate_subscripts(vec, 1) AS i,
                         unnest(vec) AS x
                  FROM a{_t})
            GROUP BY cluster, i
        ),
        c{_t} AS (
            SELECT cluster, list(m ORDER BY dim) AS carr
            FROM cd{_t} GROUP BY cluster
        )"""
            )
    sql["q_kmeans_clusters"] = (
        "WITH "
        + ",".join(_km)
        + f"""
        SELECT vec_id, cluster, dist
        FROM a{_km_iters + 1}
        ORDER BY vec_id
    """
    )

    # q_embedding_coreset: DuckDB replays the SAME greedy k-center
    # sequence — smallest-id seed, per-round min of 6dp-rounded
    # index-order zipped-diff distances to the selected set, argmax
    # with smallest-id ties — as a programmatically built CTE chain
    # (one d/s/sel block per pick).
    _cs_k = coreset.CORESET_K
    _cs = [
        """
        v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
              FROM embeddings WHERE embedding IS NOT NULL),
        s0 AS (SELECT 0 AS pick_round, vec_id, 0.0 AS dist, vec AS carr
               FROM v ORDER BY vec_id LIMIT 1),
        sel0 AS (SELECT * FROM s0)"""
    ]
    for _r in range(1, _cs_k):
        _cs.append(
            f"""
        d{_r} AS (
            SELECT v.vec_id, v.vec,
                   min(round(list_dot_product(t.dd, t.dd), 6)) AS dist
            FROM v CROSS JOIN sel{_r - 1} c,
                 LATERAL (SELECT list_transform(
                     list_zip(v.vec, c.carr), s -> s[1] - s[2]) AS dd) t
            GROUP BY v.vec_id, v.vec
        ),
        s{_r} AS (
            -- dist > 0 mirrors the engine's exhaustion stop: when all
            -- remaining points coincide with a pick, s_r is empty and
            -- every later sel is unchanged (short sequence on both sides)
            SELECT {_r} AS pick_round, vec_id, dist, vec AS carr
            FROM d{_r} WHERE dist > 0 ORDER BY dist DESC, vec_id LIMIT 1
        ),
        sel{_r} AS (SELECT * FROM sel{_r - 1}
                    UNION ALL SELECT * FROM s{_r})"""
        )
    sql["q_embedding_coreset"] = (
        "WITH "
        + ",".join(_cs)
        + f"""
        SELECT pick_round, vec_id, dist FROM sel{_cs_k - 1}
        ORDER BY pick_round
    """
    )

    # q_knn_sq8: int8 scalar quantization — DuckDB recomputes the
    # per-dim min/max (order-insensitive, bit-identical), decodes each
    # corpus vector to its bucket midpoint, and ranks by asymmetric
    # cosine; list_dot_product sums in index order, matching Spark's
    # F.aggregate fold.
    sql["q_knn_sq8"] = """
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
        ),
        dims AS (
            SELECT i, min(x) AS mn, max(x) AS mx
            FROM (SELECT generate_subscripts(vec, 1) AS i, unnest(vec) AS x
                  FROM v)
            GROUP BY i
        ),
        stats AS (
            SELECT list(mn ORDER BY i) AS mns,
                   list(CASE WHEN mx > mn THEN mx - mn ELSE 0 END
                        ORDER BY i) AS spans
            FROM dims
        ),
        dq AS (
            SELECT vec_id,
                   list_transform(
                       list_zip(vec, mns, spans),
                       s -> CASE WHEN s[3] = 0 THEN s[2]
                                 ELSE s[2] + round(255*(s[1]-s[2])/s[3])
                                      * s[3]/255 END
                   ) AS dvec
            FROM v, stats
        ),
        scored AS (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                   round(list_dot_product(q.vec, n.dvec) /
                         (sqrt(list_dot_product(q.vec, q.vec)) *
                          sqrt(list_dot_product(n.dvec, n.dvec))),
                         6) AS sq8_cosine
            FROM v q JOIN dq n ON n.vec_id <> q.vec_id
            WHERE q.vec_id < 5
        ),
        ranked AS (
            SELECT query_id, neighbor_id, sq8_cosine,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY sq8_cosine DESC, neighbor_id
                   ) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, sq8_cosine, rank
        FROM ranked WHERE rank <= 10
        ORDER BY query_id, rank
    """

    sql["q_embedding_neardup_anchor"] = """
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
        ),
        scored AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.vec, b.vec) /
                         (sqrt(list_dot_product(a.vec, a.vec)) *
                          sqrt(list_dot_product(b.vec, b.vec))), 6) AS cosine_sim
            FROM v a JOIN v b ON a.vec_id < b.vec_id
        )
        SELECT id_a, id_b, cosine_sim
        FROM scored WHERE cosine_sim >= 0.45
        ORDER BY id_a, id_b
    """

    # q_stream_snapshots replays the corpus through the stateful
    # streaming scorer and must land on exactly the batch snapshot
    # summary — same oracle.
    sql["q_stream_snapshots"] = sql["q_doc_snapshots"]

    # q_stream_hourly replays events through the live windowed
    # aggregation and must land on exactly the batch hourly rollup —
    # same oracle.
    sql["q_stream_hourly"] = sql["q_events_hourly"]
    # live foreachBatch rollup maintenance lands on the same batch truth
    sql["q_stream_hourly_maintenance"] = sql["q_events_hourly"]

    # q_events_hourly_incremental folds an 80% snapshot with a 20%
    # delta and must land exactly on the full recompute — same oracle.
    sql["q_events_hourly_incremental"] = sql["q_events_hourly"]

    # q_stream_sessions replays events through the native
    # session_window sessionizer and must land exactly on the batch
    # gaps-and-islands result — same oracle.
    sql["q_stream_sessions"] = sql["q_events_sessionize"]

    # q_embedding_neardup_lsh: DuckDB reruns the full deterministic LSH
    # pipeline — signature bits from list_dot_product against the SAME
    # ±1 plane constants (similarity.det_planes, inlined below), then a
    # COUNT-DERIVED band layout: per_band is computed from count(*)
    # with the exact _auto_band_bits arithmetic (ADVICE r5 — static
    # constants silently diverged from the Spark side's auto-sizing on
    # any corpus > 2k vectors), and the band count is FIXED at 8 with
    # the plane family growing to 8*pb members (round-6 recall
    # adjustment, VERDICT r5 #4). 128 sign bits are materialized as a
    # DOUBLE list (pb <= 16 with 8 fixed bands, i.e. corpora to
    # 8 * 2^16 = ~524k vectors — grow the inline count alongside
    # _auto_band_bits for more; ADVICE r6 corrected the earlier ~2M
    # claim, which belongs to the 16-bit SemDeDup cells). The prm CTE
    # raises a loud DuckDB error() if the derived pb ever exceeds 16,
    # so outgrowing the inlined plane budget can never silently
    # diverge from the Spark side's unbounded auto-sizing) and each band's
    # bucket is a slice x weight-vector dot (weights 2^(pb-1-i), the
    # numpy MSB-first convention) — exact in doubles for pb <= 53.
    _planes = similarity.det_planes(dim=64, n_planes=128)

    def _plane_lit(p: int) -> str:
        vals = ", ".join(str(x) for x in _planes[p])
        return f"CAST([{vals}] AS DOUBLE[])"

    _bits128 = ",\n                    ".join(
        f"CASE WHEN list_dot_product(vec, {_plane_lit(_p)}) > 0 "
        "THEN 1.0 ELSE 0.0 END"
        for _p in range(128)
    )

    sql["q_embedding_neardup_lsh"] = f"""
        WITH prm AS (
            SELECT CASE
                       WHEN ceil(log2(greatest(count(*), 2) / 8.0)) > 16
                       THEN CAST(error(
                           'q_embedding_neardup_lsh oracle: derived '
                           'per-band bits > 16 exceeds the 128 inlined '
                           'planes (corpus > ~524k vectors); grow the '
                           'inline plane count alongside _auto_band_bits'
                       ) AS INT)
                       ELSE CAST(greatest(8.0,
                           ceil(log2(greatest(count(*), 2) / 8.0)))
                           AS INT)
                   END AS pb
            FROM embeddings
        ),
        prm2 AS (SELECT pb, 8 AS nb FROM prm),
        v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
        ),
        bits AS (
            SELECT vec_id,
                   [{_bits128}] AS bits
            FROM v
        ),
        bands AS (
            SELECT t.vec_id, gs.band,
                   CAST(list_dot_product(
                       t.bits[gs.band * p.pb + 1 : gs.band * p.pb + p.pb],
                       list_transform(range(0, p.pb),
                                      i -> 2.0 ** (p.pb - 1 - i))
                   ) AS BIGINT) AS bucket
            FROM bits t
            CROSS JOIN prm2 p
            CROSS JOIN (SELECT unnest(range(0, 8)) AS band) gs
            WHERE gs.band < p.nb
        ),
        cand AS (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
            WHERE a.vec_id < b.vec_id
        ),
        scored AS (
            SELECT id_a, id_b,
                   round(list_dot_product(va.vec, vb.vec) /
                         (sqrt(list_dot_product(va.vec, va.vec)) *
                          sqrt(list_dot_product(vb.vec, vb.vec))), 6)
                       AS cosine_sim
            FROM cand
            JOIN v va ON va.vec_id = id_a
            JOIN v vb ON vb.vec_id = id_b
        )
        SELECT id_a, id_b, cosine_sim
        FROM scored WHERE cosine_sim >= 0.45
        ORDER BY id_a, id_b
    """

    # q_knn_ivf_det: DuckDB recomputes the deterministic IVF pipeline —
    # sign cells from the SAME ±1 plane constants (planes 0-15 of
    # similarity.det_planes, inlined), with the layout COUNT-DERIVED
    # exactly like the Spark side (round-7, VERDICT r6 #5):
    # p = max(6, ceil(log2(count/32))) planes, ~32 vectors/cell held
    # constant. cell_id is LSB-first, so the p-plane cell is simply
    # cell16 % 2^p of the 16-bit masked sum; Hamming<=1 multi-probe
    # offsets are {0} ∪ {2^i : i < p}, generated in SQL from the same
    # p. A loud error() fires past the 16-plane budget (n > ~2M),
    # mirroring the LSH oracle's plane-budget guard. Both engines fold
    # the plane dot product sequentially in index order (F.aggregate vs
    # list_dot_product), so cells are bit-identical.
    _cell16_terms = " + ".join(
        f"(CASE WHEN list_dot_product(vec, {_plane_lit(_p)}) > 0 "
        f"THEN {1 << _p} ELSE 0 END)"
        for _p in range(16)
    )
    sql["q_knn_ivf_det"] = f"""
        WITH prm AS (
            SELECT CASE
                       WHEN ceil(log2(greatest(count(*), 2) / 32.0)) > 16
                       THEN CAST(error(
                           'q_knn_ivf_det oracle: derived cell planes '
                           '> 16 exceed the inlined plane budget '
                           '(corpus > ~2M vectors); grow the inline '
                           'count alongside SEM_CELL_MAX_PLANES'
                       ) AS INT)
                       ELSE CAST(greatest(6.0,
                           ceil(log2(greatest(count(*), 2) / 32.0)))
                           AS INT)
                   END AS p
            FROM embeddings
        ),
        v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
        ),
        cells AS (
            SELECT vec_id, vec,
                   ({_cell16_terms}) % (1 << prm.p) AS cell
            FROM v CROSS JOIN prm
        ),
        masks AS (
            -- fixed 16-plane budget (range can't be lateral in
            -- DuckDB); the p-plane mask set is the m < 2^p prefix
            SELECT CAST(m AS INT) AS off, bit_count(CAST(m AS BIGINT)) AS pc
            FROM prm, range(0, 65536) t(m)
            WHERE m < (1 << prm.p)
        ),
        -- count-aware probe radius (round-7 100x recall fix): smallest
        -- r whose Hamming ball covers >= 7/64 of the 2^p cells — the
        -- historical (p=6, r=1) scan fraction held as p grows; same
        -- integer arithmetic as similarity.auto_probe_radius
        rad AS (
            SELECT min(pc) AS r FROM (
                SELECT pc, SUM(COUNT(*)) OVER (ORDER BY pc) AS csum
                FROM masks GROUP BY pc
            ), prm
            WHERE csum * 64 >= 7 * (1 << prm.p)
        ),
        offs AS (
            SELECT off FROM masks, rad WHERE masks.pc <= rad.r
        ),
        probes AS (
            SELECT c.vec_id AS query_id, c.vec AS q_vec,
                   xor(c.cell, o.off) AS cell
            FROM cells c, offs o
            WHERE c.vec_id < 5
        ),
        scored AS (
            SELECT p.query_id, n.vec_id AS neighbor_id,
                   round(list_dot_product(p.q_vec, n.vec) /
                         (sqrt(list_dot_product(p.q_vec, p.q_vec)) *
                          sqrt(list_dot_product(n.vec, n.vec))), 6)
                       AS cosine_sim
            FROM probes p
            JOIN cells n ON n.cell = p.cell AND n.vec_id <> p.query_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id, cosine_sim,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine_sim DESC, neighbor_id
                   ) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, cosine_sim, rank
        FROM ranked WHERE rank <= 10
        ORDER BY query_id, rank
    """

    # q_knn_ivf_probe_curve: one exact leg + one probed leg per Hamming
    # radius (offset lists generated by the same hamming_offsets logic),
    # overlap counted per radius, half-up integer recall_bp.
    _pc_blocks = []
    _pc_selects = []
    for _r in (0, 1, 2):
        _offs = similarity.hamming_offsets(6, _r)
        _off_sql = ", ".join(str(o) for o in _offs)
        _pc_blocks.append(f"""
        probes_r{_r} AS (
            SELECT c.vec_id AS query_id, c.vec AS q_vec,
                   xor(c.cell, o.off) AS cell
            FROM cells c, (SELECT unnest([{_off_sql}]) AS off) o
            WHERE c.vec_id < 5
        ),
        ranked_r{_r} AS (
            SELECT query_id, neighbor_id FROM (
                SELECT p.query_id, n.vec_id AS neighbor_id,
                       row_number() OVER (
                           PARTITION BY p.query_id
                           ORDER BY round(list_dot_product(p.q_vec, n.vec) /
                                 (sqrt(list_dot_product(p.q_vec, p.q_vec)) *
                                  sqrt(list_dot_product(n.vec, n.vec))), 6)
                                 DESC, n.vec_id
                       ) AS rank
                FROM probes_r{_r} p
                JOIN cells n ON n.cell = p.cell AND n.vec_id <> p.query_id
            ) WHERE rank <= 10
        )""")
        _pc_selects.append(f"""
        SELECT {_r} AS hamming_radius,
               {len(_offs)} AS cells_probed,
               count(*) AS n_exact,
               count(a.neighbor_id) AS n_hit,
               CAST(floor(count(a.neighbor_id) * 10000.0 / count(*) + 0.5)
                    AS BIGINT) AS recall_bp
        FROM exact e
        LEFT JOIN ranked_r{_r} a
               ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id""")
    # the probe-curve DIAGNOSTIC deliberately pins the historical 6-plane
    # layout (its radii/cells_probed columns are layout constants) —
    # only q_knn_ivf_det carries the count-derived production layout
    _cell6_terms = " + ".join(
        f"(CASE WHEN list_dot_product(vec, {_plane_lit(_p)}) > 0 "
        f"THEN {1 << _p} ELSE 0 END)"
        for _p in range(6)
    )
    sql["q_knn_ivf_probe_curve"] = (
        f"""
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
        ),
        cells AS (
            SELECT vec_id, vec, {_cell6_terms} AS cell FROM v
        ),
        exact AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY round(list_dot_product(q.vec, n.vec) /
                                 (sqrt(list_dot_product(q.vec, q.vec)) *
                                  sqrt(list_dot_product(n.vec, n.vec))), 6)
                                 DESC, n.vec_id
                       ) AS rank
                FROM v q JOIN v n ON n.vec_id <> q.vec_id
                WHERE q.vec_id < 5
            ) WHERE rank <= 10
        ),"""
        + ",".join(_pc_blocks)
        + " ".join(
            _sel + (" UNION ALL" if _i < len(_pc_selects) - 1 else "")
            for _i, _sel in enumerate(_pc_selects)
        )
        + " ORDER BY hamming_radius"
    )

    # q_embedding_shard_stats: md5-derived shards; the oracle recomputes
    # the grouped-applyInPandas statistics relationally (per-dim means
    # via unnest, norms via list_dot_product). numpy's pairwise vs
    # DuckDB's sequential summation differ ~1e-16 relative — far under
    # the round-4 quantum.
    sql["q_embedding_shard_stats"] = """
        WITH v AS (
            SELECT CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)
                        AS BIGINT) % 8 AS shard,
                   CAST(embedding AS DOUBLE[]) AS vec
            FROM embeddings
        ),
        dims AS (
            SELECT shard,
                   unnest(vec) AS x,
                   unnest(range(1, len(vec) + 1)) AS d
            FROM v
        ),
        meanvec AS (
            SELECT shard, d, avg(x) AS m FROM dims GROUP BY 1, 2
        ),
        mv AS (
            SELECT shard, round(sqrt(sum(m * m)), 4) AS mean_vector_norm
            FROM meanvec GROUP BY shard
        ),
        mn AS (
            SELECT shard, CAST(count(*) AS BIGINT) AS n_vectors,
                   round(avg(sqrt(list_dot_product(vec, vec))), 4)
                       AS mean_norm
            FROM v GROUP BY shard
        )
        SELECT shard, n_vectors, mean_vector_norm, mean_norm
        FROM mn JOIN mv USING (shard)
        ORDER BY shard
    """

    # q_minhash_lsh runs LSH candidate generation (64 bands × 2 rows —
    # miss probability (1-J²)^64 ≈ 1e-8 at the J=0.5 threshold) and then
    # verifies candidates with the EXACT Jaccard, so its output equals
    # the exact n-gram similarity join: same oracle SQL as q_ngram_jaccard.
    sql["q_minhash_lsh"] = sql["q_ngram_jaccard"]

    # q_simhash_neardup (md5 mode): DuckDB rebuilds the 60-bit signatures
    # from the same md5-derived token hashes, bands them 4 × 15 bits, and
    # verifies Hamming distance — bit-exact twin of the Spark pipeline.
    _votes = ",\n               ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{i}"
        for i in range(60)
    )
    _sig_terms = "\n                 + ".join(
        f"(CASE WHEN v_{i} > 0 THEN (CAST(1 AS BIGINT) << {i}) ELSE 0 END)"
        for i in range(60)
    )
    sql["q_simhash_neardup"] = f"""
        WITH {_TOKS_CTE},
        tok AS (SELECT doc_id, unnest(raw_toks) AS token FROM tok_base),
        hashed AS (
            SELECT doc_id,
                   CAST(concat('0x', substr(md5(token), 1, 15)) AS BIGINT) AS h
            FROM tok
        ),
        votes AS (
            SELECT doc_id,
               {_votes}
            FROM hashed GROUP BY doc_id
        ),
        sig AS (
            SELECT doc_id,
                   {_sig_terms} AS simhash
            FROM votes
        ),
        bands AS (
            SELECT doc_id, simhash,
                   unnest([0, 1, 2, 3]) AS band,
                   unnest([(simhash >> 0) & 32767, (simhash >> 15) & 32767,
                           (simhash >> 30) & 32767, (simhash >> 45) & 32767])
                       AS bucket
            FROM sig
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.simhash AS sig_a, b.simhash AS sig_b
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
            WHERE a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
        FROM cand
        WHERE bit_count(xor(sig_a, sig_b)) <= 3
        ORDER BY doc_a, doc_b
    """

    # q_media_features: exact-integer nibble-count aggregates. Header
    # bytes are derived arithmetically from (doc_id, n_chars) — 'FAKE'
    # contributes 4 bytes of high-nibble 4; the two zero-padded
    # big-endian size fields contribute 6 bytes of nibble 0 plus the two
    # low bytes' own nibbles — and text bytes via regexp char-class
    # counts (ASCII corpus: char == byte; chars are >= 0x20 so text
    # never hits nibble 0 or 1).
    sql["q_media_features"] = """
        WITH base AS (
            SELECT doc_id,
                   doc_id % 1024 + 16 AS w,
                   n_chars % 768 + 16 AS h,
                   CAST(length(text) AS BIGINT) AS n_bytes,
                   text
            FROM documents
        ),
        feat AS (
            SELECT CAST(w % 8 AS INTEGER) AS width_bucket,
                   n_bytes,
                   6 + CASE WHEN (w % 256) < 16 THEN 1 ELSE 0 END
                     + CASE WHEN (h % 256) < 16 THEN 1 ELSE 0 END AS f0,
                   4 + CASE WHEN (w % 256) >= 64 AND (w % 256) < 80
                            THEN 1 ELSE 0 END
                     + CASE WHEN (h % 256) >= 64 AND (h % 256) < 80
                            THEN 1 ELSE 0 END
                     + (length(text)
                        - length(regexp_replace(text, '[\\x40-\\x4f]', '', 'g')))
                       AS f4,
                   CASE WHEN (w % 256) >= 96 AND (w % 256) < 112
                        THEN 1 ELSE 0 END
                     + CASE WHEN (h % 256) >= 96 AND (h % 256) < 112
                            THEN 1 ELSE 0 END
                     + (length(text)
                        - length(regexp_replace(text, '[\\x60-\\x6f]', '', 'g')))
                       AS f6
            FROM base
        )
        SELECT width_bucket,
               count(*) AS n_media,
               CAST(sum(n_bytes) AS BIGINT) AS sum_bytes,
               CAST(sum(f0) AS BIGINT) AS feat0_bytes,
               CAST(sum(f4) AS BIGINT) AS feat4_bytes,
               CAST(sum(f6) AS BIGINT) AS feat6_bytes
        FROM feat
        GROUP BY width_bucket
        ORDER BY width_bucket
    """

    # q_doc_sample_stratified: DuckDB recomputes the identical md5-derived
    # uniform variate (first 8 hex chars of md5 → 32-bit int / 2^32; both
    # engines divide an exactly-representable integer by a power of two,
    # so the doubles are bit-identical). Rates come from the same
    # sampling.MIX_RATES constant the Spark query uses.
    rate_case = " ".join(
        f"WHEN '{k}' THEN CAST({r} AS DOUBLE)"
        for k, r in sorted(sampling.MIX_RATES.items())
    )
    sql["q_doc_sample_stratified"] = f"""
        WITH v AS (
            SELECT source, doc_id,
                   CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                        AS BIGINT) / 4294967296.0 AS u,
                   CASE source {rate_case}
                        ELSE CAST({sampling.MIX_DEFAULT} AS DOUBLE)
                   END AS rate
            FROM documents
        )
        SELECT source,
               count(*) AS n_total,
               CAST(sum(CASE WHEN u < rate THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept,
               CAST(sum(CASE WHEN u < rate THEN doc_id ELSE 0 END) AS BIGINT)
                   AS kept_id_checksum
        FROM v
        GROUP BY source
        ORDER BY source
    """

    # q_benchmark_contamination: same tokenize/3-shingle CTEs as
    # q_ngram_jaccard; the oracle joins on the shingle string where Spark
    # joins on xxhash64(shingle) — identical pairs absent a 64-bit hash
    # collision. Benchmark slice = doc_id % 97 == 0 on both sides.
    sql["q_benchmark_contamination"] = f"""
        WITH {_TOKS_CTE},
        {_SHINGLE_CTE},
        dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
        hits AS (
            SELECT b.doc_id AS bench_id, c.doc_id AS doc_id,
                   count(*) AS shared
            FROM dsh c JOIN dsh b ON c.shingle = b.shingle
            WHERE b.doc_id % 97 = 0 AND c.doc_id <> b.doc_id
            GROUP BY b.doc_id, c.doc_id
        )
        SELECT bench_id,
               count(*) AS n_contaminated,
               max(shared) AS max_shared
        FROM hits
        GROUP BY bench_id
        ORDER BY bench_id
    """

    # q_events_retention: cohort day from a per-user min, calendar-day
    # offsets via date_diff (DuckDB date_trunc('day') yields DATE — cast
    # back to TIMESTAMP to match Spark; datediff is INT on the Spark
    # side, so cast the BIGINT date_diff down).
    sql["q_events_retention"] = """
        WITH fd AS (
            SELECT user_id, min(date_trunc('day', ts)) AS cohort_day
            FROM events GROUP BY user_id
        )
        SELECT CAST(fd.cohort_day AS TIMESTAMP) AS cohort_day,
               CAST(date_diff('day', fd.cohort_day, date_trunc('day', e.ts))
                    AS INTEGER) AS day_offset,
               count(DISTINCT e.user_id) AS n_users
        FROM events e JOIN fd USING (user_id)
        WHERE date_diff('day', fd.cohort_day, date_trunc('day', e.ts)) <= 7
        GROUP BY 1, 2
        ORDER BY cohort_day, day_offset
    """

    # q_events_anomalous_hours: exact-integer z-test — the |x-mean|>z*sd
    # inequality is squared and cleared of divisions so both engines
    # compare BIGINTs, and the flag boundary cannot drift on float
    # rounding (operators/events.py::anomalous_windows).
    sql["q_events_anomalous_hours"] = """
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS bucket,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY 1
        ),
        stats AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(x * x) AS BIGINT) AS sxx
            FROM hourly
        )
        SELECT CAST(bucket AS TIMESTAMP) AS bucket, x
        FROM hourly, stats
        WHERE (n * x - sx) * (n * x - sx) * (n - 1)
              > 4 * n * (n * sxx - sx * sx)
        ORDER BY bucket
    """

    # q_dedup_clusters: connected components of the Jaccard>=0.5 pair
    # graph. The oracle enumerates every (node, reachable-label) pair via
    # a recursive CTE and takes min per node — exponential-free (UNION
    # dedups) and exact for the test-SF component sizes; Spark's
    # min-label propagation converges to the same fixed point.
    sql["q_dedup_clusters"] = f"""
        WITH RECURSIVE {_TOKS_CTE},
        {_SHINGLE_CTE},
        dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
        sizes AS (
            SELECT doc_id, count(*) AS set_size FROM dsh GROUP BY doc_id
        ),
        shared AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
            FROM dsh a JOIN dsh b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        pairs AS (
            SELECT doc_a, doc_b
            FROM shared
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE round(shared / (sa.set_size + sb.set_size - shared), 4)
                  >= 0.5
        ),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION
            SELECT doc_b AS src, doc_a AS dst FROM pairs
        ),
        reach(node, lab) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.src, r.lab
            FROM reach r JOIN edges e ON e.dst = r.node
        )
        SELECT node AS doc_id, min(lab) AS cluster_id
        FROM reach
        GROUP BY node
        ORDER BY doc_id
    """

    # q_doc_pack_sequences: DuckDB recomputes the identical md5 shuffle
    # permutation and the exclusive running token sum with a plain
    # window (safe single-node; Spark uses the two-phase bucketed
    # cumsum) — all-integer arithmetic, so hashes must match exactly.
    sql["q_doc_pack_sequences"] = f"""
        WITH {_TOKS_CTE},
        ord AS (
            SELECT doc_id, len(raw_toks) AS n_tokens,
                   CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                        AS BIGINT) / 4294967296.0 AS u
            FROM tok_base
        ),
        c AS (
            SELECT doc_id, n_tokens,
                   COALESCE(SUM(n_tokens) OVER (
                       ORDER BY u, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS cum_before
            FROM ord
        )
        SELECT CAST(cum_before // {packing.SEQ_CAPACITY} AS BIGINT)
                   AS seq_id,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               CAST(sum(doc_id) AS BIGINT) AS doc_id_checksum
        FROM c
        GROUP BY 1
        ORDER BY seq_id
    """

    # ---- extended TPC-H suite (operators/tpch.py) ----
    # DuckDB year() returns BIGINT — cast to INTEGER to match Spark's
    # F.year. Money sums rounded 2dp, shares 4dp, on both sides.
    sql["q7_volume_shipping"] = """
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
                   AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
            OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18'))
          AND l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """

    sql["q8_market_share"] = """
        WITH base AS (
            SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
                   l.l_extendedprice * (1 - l.l_discount) AS volume,
                   n1.n_name AS supp_nation
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
            JOIN region r ON n2.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'ASIA' AND p.p_type = 'STANDARD'
        )
        SELECT o_year,
               round(sum(CASE WHEN supp_nation = 'NATION_5'
                              THEN volume ELSE 0 END)
                     / sum(volume), 4) AS mkt_share,
               round(sum(volume), 2) AS total_volume
        FROM base GROUP BY o_year ORDER BY o_year
    """

    sql["q9_profit_by_nation"] = """
        SELECT n.n_name AS nation,
               CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
               -- integer-ten-thousandths quantization (see tpch.py:
               -- sums of 1e-4-grid row values land on exact decimal
               -- midpoints where round(,2) is engine-divergent)
               CAST(round(sum(l.l_extendedprice * (1 - l.l_discount)
                              - 0.6 * p.p_retailprice * l.l_quantity)
                          * 10000) AS BIGINT) / 10000.0
                   AS profit
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE p.p_name LIKE '%gear%'
        GROUP BY 1, 2 ORDER BY nation, o_year
    """

    sql["q13_order_distribution"] = """
        WITH per_cust AS (
            SELECT c.c_custkey, count(o.o_orderkey) AS c_count
            FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
            GROUP BY c.c_custkey
        )
        SELECT c_count, count(*) AS custdist
        FROM per_cust GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """

    sql["q14_promo_share"] = """
        SELECT round(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                          THEN l.l_extendedprice * (1 - l.l_discount)
                          ELSE 0 END)
                     / sum(l.l_extendedprice * (1 - l.l_discount)), 4)
                   AS promo_revenue_pct,
               count(*) AS item_count
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
          AND l.l_shipdate < TIMESTAMP '1998-01-01'
    """

    sql["q15_top_supplier"] = """
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1997-04-01'
            GROUP BY l_suppkey
        )
        SELECT s.s_suppkey AS suppkey, s.s_name, r.total_revenue
        FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
        WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
        ORDER BY suppkey
    """

    sql["q17_small_qty_revenue"] = """
        WITH avg_qty AS (
            SELECT l_partkey, avg(l_quantity) AS a
            FROM lineitem GROUP BY l_partkey
        )
        SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly,
               count(*) AS item_count
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        JOIN avg_qty aq ON l.l_partkey = aq.l_partkey
        WHERE p.p_brand = 'Brand#1' AND l.l_quantity < 0.5 * aq.a
    """

    sql["q18_large_orders"] = """
        WITH big AS (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey HAVING sum(l_quantity) > 150
        )
        SELECT c.c_name, c.c_custkey AS custkey,
               o.o_orderkey AS orderkey, o.o_orderdate,
               round(o.o_totalprice, 2) AS totalprice,
               round(sum(l.l_quantity), 2) AS sum_qty
        FROM orders o
        JOIN big b ON o.o_orderkey = b.l_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2, 3, 4, o.o_totalprice
        ORDER BY totalprice DESC, orderkey LIMIT 100
    """

    sql["q19_disjunctive_revenue"] = """
        SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
                   AS revenue,
               count(*) AS item_count
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity BETWEEN 1 AND 20)
           OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
               AND l.l_quantity BETWEEN 10 AND 30)
           OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 50
               AND l.l_quantity BETWEEN 20 AND 50)
    """

    sql["q21_late_sole_shippers"] = """
        WITH lo AS (
            SELECT l.l_orderkey, l.l_suppkey,
                   max(CASE WHEN l.l_shipdate >
                                 o.o_orderdate + INTERVAL 90 DAY
                            THEN 1 ELSE 0 END) AS is_late
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            GROUP BY l.l_orderkey, l.l_suppkey
        ),
        marked AS (
            SELECT l_suppkey, is_late,
                   count(*) OVER (PARTITION BY l_orderkey) AS n_supps,
                   sum(is_late) OVER (PARTITION BY l_orderkey) AS n_late
            FROM lo
        )
        SELECT s.s_name, count(*) AS numwait
        FROM marked m JOIN supplier s ON m.l_suppkey = s.s_suppkey
        WHERE m.is_late = 1 AND m.n_supps > 1 AND m.n_late = 1
        GROUP BY s.s_name ORDER BY numwait DESC, s_name LIMIT 20
    """

    sql["q22_idle_customers"] = """
        WITH cutoff AS (
            SELECT avg(c_acctbal) AS avg_bal
            FROM customer WHERE c_acctbal > 0
        )
        SELECT c.c_mktsegment, count(*) AS numcust,
               round(sum(c.c_acctbal), 2) AS totacctbal
        FROM customer c, cutoff
        WHERE c.c_acctbal > cutoff.avg_bal
          AND NOT EXISTS (
              SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
    """

    sql["q2_min_price_part"] = """
        WITH mn AS (
            SELECT p_type, min(p_retailprice) AS min_price
            FROM part WHERE p_size <= 25 GROUP BY p_type
        )
        SELECT p.p_type, p.p_partkey AS partkey, p.p_name,
               round(p.p_retailprice, 2) AS retailprice
        FROM part p JOIN mn ON p.p_type = mn.p_type
                AND p.p_retailprice = mn.min_price
        WHERE p.p_size <= 25
        ORDER BY p.p_type, partkey
    """

    sql["q11_part_value_concentration"] = """
        WITH pp AS (
            SELECT l_partkey AS partkey,
                   CAST(round(sum(l_extendedprice * (1 - l_discount))
                              * 10000) AS BIGINT) AS v_tenk
            FROM lineitem GROUP BY l_partkey
        )
        SELECT partkey, v_tenk / 10000.0 AS value
        FROM pp, (SELECT sum(v_tenk) AS tot, count(*) AS cnt FROM pp)
        WHERE 2 * v_tenk * cnt > 3 * tot
        ORDER BY value DESC, partkey
    """

    sql["q12_priority_by_returnflag"] = """
        SELECT l.l_returnflag,
               CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
          AND l.l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l.l_returnflag ORDER BY l.l_returnflag
    """

    sql["q16_supplier_part_variety"] = """
        WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        SELECT p.p_brand, p.p_type, p.p_size,
               count(DISTINCT ps.l_suppkey) AS supplier_cnt
        FROM ps JOIN part p ON ps.l_partkey = p.p_partkey
        WHERE p.p_brand <> 'Brand#1'
          AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 22, 25)
          AND ps.l_suppkey NOT IN (
                SELECT s_suppkey FROM supplier WHERE s_acctbal < 1500)
        GROUP BY p.p_brand, p.p_type, p.p_size
        ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """

    sql["q20_excess_shippers"] = """
        WITH sq AS (
            SELECT l.l_partkey, l.l_suppkey, sum(l.l_quantity) AS sq_qty
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE p.p_name LIKE '%gear%'
              AND l.l_shipdate >= TIMESTAMP '1997-01-01'
              AND l.l_shipdate < TIMESTAMP '1998-01-01'
            GROUP BY l.l_partkey, l.l_suppkey
        ),
        m AS (
            SELECT *, sum(sq_qty) OVER (PARTITION BY l_partkey)
                       AS part_total
            FROM sq
        )
        SELECT s.s_suppkey AS suppkey, s.s_name, s.s_acctbal
        FROM supplier s
        WHERE s.s_suppkey IN (
            SELECT l_suppkey FROM m WHERE sq_qty > 0.3 * part_total)
        ORDER BY suppkey
    """

    # ---- corpus quality signals (operators/quality.py) ----
    # Ratios quantized to integer basis points: round-to-integer is the
    # only midpoint-safe cross-engine rounding (see quality.py).
    sql["q_doc_repetition"] = f"""
        WITH {_TOKS_CTE},
        uni AS (SELECT doc_id, unnest(raw_toks) AS tok FROM tok_base),
        uc AS (SELECT doc_id, tok, count(*) AS c FROM uni GROUP BY 1, 2),
        ua AS (
            SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                   count(*) AS n_distinct, max(c) AS top_uni
            FROM uc GROUP BY 1
        ),
        bpos AS (
            SELECT doc_id, raw_toks,
                   unnest(range(1, len(raw_toks))) AS i
            FROM tok_base
        ),
        bg AS (
            SELECT doc_id, raw_toks[i] || ' ' || raw_toks[i + 1] AS b
            FROM bpos
        ),
        bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
        ba AS (
            SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
                   max(c) AS top_bi
            FROM bc GROUP BY 1
        )
        SELECT ua.doc_id, ua.n_tokens,
               CAST(round(10000.0 * n_distinct / n_tokens) AS BIGINT)
                   AS distinct_bp,
               CAST(round(10000.0 * top_uni / n_tokens) AS BIGINT)
                   AS top_unigram_bp,
               CAST(round(10000.0 * top_bi / n_bigrams) AS BIGINT)
                   AS top_bigram_bp
        FROM ua LEFT JOIN ba ON ua.doc_id = ba.doc_id
        ORDER BY ua.doc_id
    """

    _png = {
        "EMAIL": "[a-z0-9._]+@[a-z0-9.]+\\.[a-z]+",
        "PHONE": "\\+1-555-[0-9]{4}",
        "IP": "10\\.[0-9]{1,3}\\.0\\.[0-9]{1,3}",
    }
    sql["q_doc_pii_redact"] = f"""
        WITH aug AS (
            SELECT doc_id,
                   text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@mail' || CAST(doc_id % 7 AS VARCHAR)
                        || '.com tel +1-555-'
                        || lpad(CAST((doc_id * 37) % 10000 AS VARCHAR),
                                4, '0')
                        || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                        || '.0.' || CAST((doc_id * 3) % 256 AS VARCHAR)
                       AS t
            FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(t, '{_png["EMAIL"]}'))
                    AS INTEGER) AS n_email,
               CAST(len(regexp_extract_all(t, '{_png["PHONE"]}'))
                    AS INTEGER) AS n_phone,
               CAST(len(regexp_extract_all(t, '{_png["IP"]}'))
                    AS INTEGER) AS n_ip,
               md5(regexp_replace(regexp_replace(regexp_replace(
                       t, '{_png["EMAIL"]}', '<EMAIL>', 'g'),
                       '{_png["PHONE"]}', '<PHONE>', 'g'),
                       '{_png["IP"]}', '<IP>', 'g')) AS redacted_md5
        FROM aug ORDER BY doc_id
    """

    sql["q_doc_decontaminate"] = f"""
        WITH {_TOKS_CTE},
        pos4 AS (
            SELECT doc_id, raw_toks,
                   unnest(range(1, len(raw_toks) - 2)) AS i
            FROM tok_base
        ),
        sh4 AS (
            SELECT doc_id, array_to_string(raw_toks[i:i + 3], ' ') AS sh
            FROM pos4
        ),
        dsh AS (SELECT DISTINCT doc_id, sh FROM sh4),
        bench AS (
            SELECT DISTINCT sh FROM dsh WHERE doc_id % 25 = 0
        ),
        hits AS (
            SELECT DISTINCT d.doc_id
            FROM dsh d JOIN bench b USING (sh)
            WHERE d.doc_id % 25 <> 0
        )
        SELECT source, count(*) AS n_train,
               CAST(sum(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_contaminated
        FROM documents LEFT JOIN hits h USING (doc_id)
        WHERE doc_id % 25 <> 0
        GROUP BY source ORDER BY source
    """

    sql["q_doc_mixture_plan"] = f"""
        WITH {_TOKS_CTE},
        per AS (
            SELECT source, count(*) AS n_docs,
                   CAST(sum(len(raw_toks)) AS BIGINT) AS n_tokens,
                   max((CAST(substr(source, 4) AS INTEGER) % 3) + 1)
                       AS weight
            FROM tok_base GROUP BY source
        )
        SELECT source, n_docs, n_tokens, weight,
               CAST(round(10000.0 * weight / tw) AS BIGINT) AS target_bp,
               CAST(round(10000.0 * weight * tt / (tw * n_tokens))
                    AS BIGINT) AS rate_bp
        FROM per, (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt,
                          CAST(sum(weight) AS BIGINT) AS tw FROM per)
        ORDER BY source
    """

    _edges = (16, 24, 32, 48, 64, 96, 128)
    _ladder = " ".join(
        f"WHEN len(raw_toks) <= {e} THEN {e}" for e in _edges
    )
    sql["q_doc_length_buckets"] = f"""
        WITH {_TOKS_CTE},
        b AS (
            SELECT CASE {_ladder} ELSE -1 END AS bucket,
                   len(raw_toks) AS nt
            FROM tok_base
        )
        SELECT bucket, count(*) AS n_docs,
               CAST(sum(nt) AS BIGINT) AS n_tokens
        FROM b GROUP BY bucket ORDER BY bucket
    """

    # q_doc_tfidf_topk: tf/df/N are exact integers; the single float
    # (smoothed ln) is rounded to 4 dp on BOTH engines BEFORE ranking,
    # so rank order is a deterministic function of (score, token).
    sql["q_doc_tfidf_topk"] = f"""
        WITH {_TOKS_CTE},
        tok AS (SELECT doc_id, unnest(toks) AS token FROM tok_clean),
        tf AS (
            SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
            FROM tok GROUP BY 1, 2
        ),
        dfreq AS (
            SELECT token, CAST(count(*) AS BIGINT) AS df
            FROM tf GROUP BY 1
        ),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
                   round(tf.tf * ln((n.n_docs + 1.0) / (dfreq.df + 1.0)), 4)
                       AS tfidf
            FROM tf JOIN dfreq USING (token), n
        ),
        ranked AS (
            SELECT doc_id, token, tf, df, tfidf,
                   row_number() OVER (
                       PARTITION BY doc_id ORDER BY tfidf DESC, token
                   ) AS rnk
            FROM scored
        )
        SELECT doc_id, token, tf, df, tfidf, rnk
        FROM ranked WHERE rnk <= 3
        ORDER BY doc_id, rnk
    """

    sql["q_doc_domain_cap"] = """
        WITH ranked AS (
            SELECT source, doc_id, CAST(length(text) AS BIGINT) AS score,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY length(text) DESC, doc_id
                   ) AS rnk
            FROM documents
        )
        SELECT source, doc_id, score, rnk
        FROM ranked WHERE rnk <= 10
        ORDER BY source, rnk
    """

    # q_doc_curriculum: the oracle uses the textbook partitioned
    # row_number; the Spark side's grouped_position (global two-phase
    # position + broadcast offsets) must land on the identical ranking.
    sql["q_doc_curriculum"] = f"""
        WITH {_TOKS_CTE},
        r AS (
            SELECT doc_id, source,
                   CAST(len(raw_toks) AS INT) AS ntok,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY len(raw_toks), doc_id
                   ) AS step
            FROM tok_base
        )
        SELECT step, source, doc_id, ntok
        FROM r
        ORDER BY step, source
        LIMIT 500
    """

    # q_doc_weighted_sample: Efraimidis–Spirakis weighted sampling
    # without replacement — rank by ln(u)/w (monotone twin of
    # u^(1/w)) on the shared md5 uniform shifted to (0,1); both
    # engines compute the identical double, so the per-source top-20
    # selections coincide.
    sql["q_doc_weighted_sample"] = """
        WITH scored AS (
            SELECT source, doc_id,
                   greatest(1, length(text)) AS weight,
                   ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                           1, 8) AS BIGINT) + 0.5)
                      / 4294967296.0)
                     / CAST(greatest(1, length(text)) AS DOUBLE) AS k
            FROM documents
        ),
        ranked AS (
            SELECT source, doc_id, weight,
                   row_number() OVER (
                       PARTITION BY source ORDER BY k DESC, doc_id
                   ) AS rnk
            FROM scored
        )
        SELECT source, doc_id, CAST(weight AS BIGINT) AS weight, rnk
        FROM ranked WHERE rnk <= 20
        ORDER BY source, rnk
    """

    sql["q_doc_token_budget"] = f"""
        WITH {_TOKS_CTE},
        nt AS (
            SELECT source, doc_id,
                   CAST(len(raw_toks) AS BIGINT) AS n_tokens,
                   md5(CAST(doc_id AS VARCHAR)) AS ok
            FROM tok_base
        ),
        cum AS (
            SELECT source, doc_id, n_tokens,
                   sum(n_tokens) OVER (
                       PARTITION BY source ORDER BY ok, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum_tokens
            FROM nt
        )
        SELECT source, doc_id, n_tokens,
               CAST(cum_tokens AS BIGINT) AS cum_tokens
        FROM cum WHERE cum_tokens <= 400
        ORDER BY source, cum_tokens, doc_id
    """

    # q_doc_unigram_nll: integer unigram counts; the per-doc sum of logs
    # is rounded to 4 dp on both engines (re-association error ~1e-13
    # against the 5e-5 quantum).
    sql["q_doc_unigram_nll"] = f"""
        WITH {_TOKS_CTE},
        tok AS (SELECT doc_id, unnest(raw_toks) AS token FROM tok_base),
        counts AS (
            SELECT token, CAST(count(*) AS BIGINT) AS cnt
            FROM tok GROUP BY token
        ),
        tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM counts)
        SELECT t.doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               round(-sum(ln(CAST(c.cnt AS DOUBLE) / tot.total))
                     / count(*), 4) AS nll
        FROM tok t JOIN counts c USING (token), tot
        GROUP BY t.doc_id
        ORDER BY t.doc_id
    """

    # q_doc_winnow: md5-derived 48-bit k-gram hashes, min over each
    # w-window of consecutive positions (SIGMOD'03 winnowing), distinct
    # per doc, verified via count/min/sum checksums. Reuses the 3-gram
    # CTE's (doc_id, pos, shingle) relation.
    sql["q_doc_winnow"] = f"""
        WITH {_TOKS_CTE},
        {_SHINGLE_CTE},
        hashed AS (
            SELECT doc_id, pos,
                   CAST('0x' || substr(md5(shingle), 1, 12) AS BIGINT) AS h
            FROM sh
        ),
        framed AS (
            SELECT doc_id, pos,
                   min(h) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING
                   ) AS win_min,
                   max(pos) OVER (PARTITION BY doc_id) AS n_grams
            FROM hashed
        ),
        fp AS (
            SELECT DISTINCT doc_id, win_min
            FROM framed WHERE pos <= n_grams - 4
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_fingerprints,
               CAST(min(win_min) AS BIGINT) AS min_fp,
               CAST(sum(win_min) AS BIGINT) AS fp_checksum
        FROM fp GROUP BY doc_id ORDER BY doc_id
    """

    # q_source_contamination: distinct (source, 3-shingle) sets,
    # self-joined on shingle — integer shared counts, Jaccard in basis
    # points (integer round, midpoint-safe).
    sql["q_source_contamination"] = f"""
        WITH {_TOKS_CTE},
        {_SHINGLE_CTE},
        ssh AS (
            SELECT DISTINCT d.source, s.shingle
            FROM sh s JOIN tok_base d USING (doc_id)
        ),
        sizes AS (
            SELECT source, CAST(count(*) AS BIGINT) AS set_size
            FROM ssh GROUP BY source
        ),
        shared AS (
            SELECT a.source AS source_a, b.source AS source_b,
                   CAST(count(*) AS BIGINT) AS shared_shingles
            FROM ssh a JOIN ssh b ON a.shingle = b.shingle
            WHERE a.source < b.source
            GROUP BY 1, 2
        )
        SELECT source_a, source_b, shared_shingles,
               CAST(round(10000.0 * shared_shingles
                          / (sa.set_size + sb.set_size - shared_shingles))
                    AS BIGINT) AS jaccard_bp
        FROM shared
        JOIN sizes sa ON sa.source = source_a
        JOIN sizes sb ON sb.source = source_b
        ORDER BY source_a, source_b
    """

    # q_doc_winnow_pairs: clone candidates from shared winnowing
    # fingerprints; boilerplate fingerprints (docfreq > 100) dropped
    # pre-join exactly as in the Spark plan. Reuses q_doc_winnow's CTEs.
    sql["q_doc_winnow_pairs"] = f"""
        WITH {_TOKS_CTE},
        {_SHINGLE_CTE},
        hashed AS (
            SELECT doc_id, pos,
                   CAST('0x' || substr(md5(shingle), 1, 12) AS BIGINT) AS h
            FROM sh
        ),
        framed AS (
            SELECT doc_id, pos,
                   min(h) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING
                   ) AS win_min,
                   max(pos) OVER (PARTITION BY doc_id) AS n_grams
            FROM hashed
        ),
        fp AS (
            SELECT DISTINCT doc_id, win_min
            FROM framed WHERE pos <= n_grams - 4
        ),
        rare AS (
            SELECT doc_id, win_min FROM (
                SELECT doc_id, win_min,
                       count(*) OVER (PARTITION BY win_min) AS dfreq
                FROM fp
            ) WHERE dfreq <= 100
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(count(*) AS BIGINT) AS shared_fingerprints
        FROM rare a JOIN rare b
          ON a.win_min = b.win_min AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= 2
        ORDER BY id_a, id_b
    """

    # q_corpus_curation_v2: domain cap -> winnowing clone prune (over
    # survivors only — docfreqs recomputed on the restricted set, same
    # as the Spark plan) -> unigram-surprisal band with a mean+2sd cut
    # over the 4dp-rounded per-doc nll values.
    sql["q_corpus_curation_v2"] = f"""
        WITH {_TOKS_CTE},
        {_SHINGLE_CTE},
        capped AS (
            SELECT doc_id, source FROM (
                SELECT doc_id, source,
                       row_number() OVER (
                           PARTITION BY source
                           ORDER BY length(text) DESC, doc_id
                       ) AS rnk
                FROM documents
            ) WHERE rnk <= 40
        ),
        hashed AS (
            SELECT s.doc_id, s.pos,
                   CAST('0x' || substr(md5(s.shingle), 1, 12) AS BIGINT)
                       AS h
            FROM sh s JOIN capped USING (doc_id)
        ),
        framed AS (
            SELECT doc_id, pos,
                   min(h) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING
                   ) AS win_min,
                   max(pos) OVER (PARTITION BY doc_id) AS n_grams
            FROM hashed
        ),
        fp AS (
            SELECT DISTINCT doc_id, win_min
            FROM framed WHERE pos <= n_grams - 4
        ),
        rare AS (
            SELECT doc_id, win_min FROM (
                SELECT doc_id, win_min,
                       count(*) OVER (PARTITION BY win_min) AS dfreq
                FROM fp
            ) WHERE dfreq <= 100
        ),
        clone_pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM rare a JOIN rare b
              ON a.win_min = b.win_min AND a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING count(*) >= 2
        ),
        clone_losers AS (SELECT DISTINCT id_b AS doc_id FROM clone_pairs),
        tok AS (SELECT doc_id, unnest(raw_toks) AS token FROM tok_base),
        counts AS (
            SELECT token, CAST(count(*) AS BIGINT) AS cnt
            FROM tok GROUP BY token
        ),
        tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM counts),
        nll AS (
            SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                   round(-sum(ln(CAST(c.cnt AS DOUBLE) / tot.total))
                         / count(*), 4) AS nll
            FROM tok t JOIN counts c USING (token), tot
            GROUP BY t.doc_id
        ),
        cut AS (
            SELECT round(avg(nll) + 2.0 * stddev_samp(nll), 4) AS c
            FROM nll
        )
        SELECT capped.doc_id, capped.source, nll.n_tokens, nll.nll
        FROM capped
        JOIN nll USING (doc_id), cut
        WHERE capped.doc_id NOT IN (SELECT doc_id FROM clone_losers)
          AND nll.nll <= cut.c
        ORDER BY capped.doc_id
    """

    # q_corpus_curation_v3: the full gate — benchmark decontamination
    # (every 25th doc is the benchmark; k=4 shingles) -> curation v2
    # over the CLEAN corpus (cap / winnowing clone prune / surprisal
    # band, with the unigram LM fit on the decontaminated corpus) ->
    # synthetic-PII redaction attest of the survivors.
    sql["q_corpus_curation_v3"] = f"""
        WITH {_TOKS_CTE},
        {_SHINGLE_CTE},
        pos4 AS (
            SELECT doc_id, raw_toks,
                   unnest(range(1, len(raw_toks) - 2)) AS i
            FROM tok_base
        ),
        sh4 AS (
            SELECT doc_id, array_to_string(raw_toks[i:i + 3], ' ') AS sh
            FROM pos4
        ),
        dsh AS (SELECT DISTINCT doc_id, sh FROM sh4),
        bench_sh AS (
            SELECT DISTINCT sh FROM dsh WHERE doc_id % 25 = 0
        ),
        hits AS (
            SELECT DISTINCT d.doc_id
            FROM dsh d JOIN bench_sh b USING (sh)
            WHERE d.doc_id % 25 <> 0
        ),
        clean AS (
            SELECT doc_id, source, text FROM documents
            WHERE doc_id % 25 <> 0
              AND doc_id NOT IN (SELECT doc_id FROM hits)
        ),
        capped AS (
            SELECT doc_id, source FROM (
                SELECT doc_id, source,
                       row_number() OVER (
                           PARTITION BY source
                           ORDER BY length(text) DESC, doc_id
                       ) AS rnk
                FROM clean
            ) WHERE rnk <= 40
        ),
        hashed AS (
            SELECT s.doc_id, s.pos,
                   CAST('0x' || substr(md5(s.shingle), 1, 12) AS BIGINT)
                       AS h
            FROM sh s JOIN capped USING (doc_id)
        ),
        framed AS (
            SELECT doc_id, pos,
                   min(h) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING
                   ) AS win_min,
                   max(pos) OVER (PARTITION BY doc_id) AS n_grams
            FROM hashed
        ),
        fp AS (
            SELECT DISTINCT doc_id, win_min
            FROM framed WHERE pos <= n_grams - 4
        ),
        rare AS (
            SELECT doc_id, win_min FROM (
                SELECT doc_id, win_min,
                       count(*) OVER (PARTITION BY win_min) AS dfreq
                FROM fp
            ) WHERE dfreq <= 100
        ),
        clone_pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM rare a JOIN rare b
              ON a.win_min = b.win_min AND a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING count(*) >= 2
        ),
        clone_losers AS (SELECT DISTINCT id_b AS doc_id FROM clone_pairs),
        tok AS (
            SELECT t.doc_id, unnest(t.raw_toks) AS token
            FROM tok_base t JOIN clean USING (doc_id)
        ),
        counts AS (
            SELECT token, CAST(count(*) AS BIGINT) AS cnt
            FROM tok GROUP BY token
        ),
        tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM counts),
        nll AS (
            SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                   round(-sum(ln(CAST(c.cnt AS DOUBLE) / tot.total))
                         / count(*), 4) AS nll
            FROM tok t JOIN counts c USING (token), tot
            GROUP BY t.doc_id
        ),
        cut AS (
            SELECT round(avg(nll) + 2.0 * stddev_samp(nll), 4) AS c
            FROM nll
        ),
        aug AS (
            SELECT doc_id,
                   text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@mail' || CAST(doc_id % 7 AS VARCHAR)
                        || '.com tel +1-555-'
                        || lpad(CAST((doc_id * 37) % 10000 AS VARCHAR),
                                4, '0')
                        || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                        || '.0.' || CAST((doc_id * 3) % 256 AS VARCHAR)
                       AS t
            FROM clean
        ),
        red AS (
            SELECT doc_id,
                   CAST(len(regexp_extract_all(t, '{_png["EMAIL"]}'))
                        AS INTEGER) AS n_email,
                   CAST(len(regexp_extract_all(t, '{_png["PHONE"]}'))
                        AS INTEGER) AS n_phone,
                   CAST(len(regexp_extract_all(t, '{_png["IP"]}'))
                        AS INTEGER) AS n_ip,
                   md5(regexp_replace(regexp_replace(regexp_replace(
                           t, '{_png["EMAIL"]}', '<EMAIL>', 'g'),
                           '{_png["PHONE"]}', '<PHONE>', 'g'),
                           '{_png["IP"]}', '<IP>', 'g')) AS redacted_md5
            FROM aug
        )
        SELECT capped.doc_id, capped.source, nll.n_tokens, nll.nll,
               red.n_email, red.n_phone, red.n_ip, red.redacted_md5
        FROM capped
        JOIN nll USING (doc_id)
        JOIN red USING (doc_id), cut
        WHERE capped.doc_id NOT IN (SELECT doc_id FROM clone_losers)
          AND nll.nll <= cut.c
        ORDER BY capped.doc_id
    """

    # q_doc_bm25_topk: Okapi BM25 over raw tokens; derived constants
    # (k1+1, 1-b) computed engine-side from the same literals as the
    # Spark plan; score rounded to 4 dp before the (score, doc_id)
    # total-order top-k cut.
    _bm25_terms = ", ".join(f"'{t}'" for t in frequency.BM25_QUERY_TERMS)
    sql["q_doc_bm25_topk"] = f"""
        WITH {_TOKS_CTE},
        tok AS (SELECT doc_id, unnest(raw_toks) AS token FROM tok_base),
        dl AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
            FROM tok GROUP BY doc_id
        ),
        tf AS (
            SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
            FROM tok WHERE token IN ({_bm25_terms})
            GROUP BY 1, 2
        ),
        dfreq AS (
            SELECT token, CAST(count(*) AS BIGINT) AS df
            FROM tf GROUP BY token
        ),
        stats AS (
            SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents)
                       AS n_docs,
                   (SELECT CAST(sum(dl) AS BIGINT) FROM dl) AS tot_dl
        )
        SELECT doc_id,
               round(sum(
                   ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                   * tf * (1.2 + 1.0)
                   / (tf + 1.2 * ((1.0 - 0.75)
                                  + 0.75 * dl * n_docs / tot_dl))
               ), 4) AS bm25,
               CAST(count(*) AS BIGINT) AS n_matched_terms,
               CAST(max(dl) AS BIGINT) AS dl
        FROM tf
        JOIN dfreq USING (token)
        JOIN dl USING (doc_id), stats
        GROUP BY doc_id
        ORDER BY bm25 DESC, doc_id
        LIMIT 20
    """

    # q_doc_bigram_nll: interpolated bigram LM; the position self-join
    # mirrors the Spark equi-join on (doc_id, pos+1); weights are the
    # same explicit literals (0.7 / 0.3) on both engines.
    sql["q_doc_bigram_nll"] = f"""
        WITH {_TOKS_CTE},
        tp AS (
            SELECT doc_id,
                   unnest(raw_toks) AS token,
                   unnest(range(1, len(raw_toks) + 1)) AS pos
            FROM tok_base
        ),
        uni AS (
            SELECT token, CAST(count(*) AS BIGINT) AS uc
            FROM tp GROUP BY token
        ),
        tot AS (SELECT CAST(sum(uc) AS BIGINT) AS total FROM uni),
        bg AS (
            SELECT a.doc_id, a.token AS w1, b.token AS w2
            FROM tp a JOIN tp b
              ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        ),
        bc AS (
            SELECT w1, w2, CAST(count(*) AS BIGINT) AS bc
            FROM bg GROUP BY 1, 2
        )
        SELECT g.doc_id,
               CAST(count(*) + 1 AS BIGINT) AS n_tokens,
               round(-sum(ln(0.7 * c.bc / u1.uc
                             + 0.3 * u2.uc / tot.total))
                     / count(*), 4) AS bigram_nll
        FROM bg g
        JOIN bc c ON c.w1 = g.w1 AND c.w2 = g.w2
        JOIN uni u1 ON u1.token = g.w1
        JOIN uni u2 ON u2.token = g.w2, tot
        GROUP BY g.doc_id
        ORDER BY g.doc_id
    """

    # q_doc_dsir_weights: add-1-smoothed target-vs-corpus unigram LM
    # log ratio, averaged per doc.
    _dsir_targets = ", ".join(
        f"'{s}'" for s in sampling.DSIR_TARGET_SOURCES
    )
    sql["q_doc_dsir_weights"] = f"""
        WITH {_TOKS_CTE},
        tok AS (
            SELECT doc_id, source, unnest(raw_toks) AS token
            FROM tok_base
        ),
        corpus AS (
            SELECT token, CAST(count(*) AS BIGINT) AS rc
            FROM tok GROUP BY token
        ),
        tgt AS (
            SELECT token, CAST(count(*) AS BIGINT) AS tc
            FROM tok WHERE source IN ({_dsir_targets})
            GROUP BY token
        ),
        tots AS (
            SELECT (SELECT CAST(sum(rc) AS BIGINT) FROM corpus)
                       AS r_total,
                   (SELECT CAST(count(*) AS BIGINT) FROM corpus)
                       AS vocab,
                   (SELECT CAST(sum(tc) AS BIGINT) FROM tgt) AS t_total
        )
        SELECT doc_id, source,
               CAST(count(*) AS BIGINT) AS n_tokens,
               round(sum(
                   ln((coalesce(tc, 0) + 1.0) / (t_total + vocab))
                   - ln((rc + 1.0) / (r_total + vocab))
               ) / count(*), 4) + 0.0 AS logw
        FROM tok
        JOIN corpus USING (token)
        LEFT JOIN tgt USING (token), tots
        GROUP BY doc_id, source
        ORDER BY doc_id
    """

    sql["q_events_latest_state"] = """
        SELECT user_id, event_id, event_type,
               CAST(ts AS TIMESTAMP) AS ts, value
        FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC
                   ) AS rn
            FROM events
        )
        WHERE rn = 1
        ORDER BY user_id
    """

    # RANGE framing over an integer day index — calendar-correct even
    # with gap days (a ROWS frame would span 7 observed rows instead).
    sql["q_events_rolling_7d"] = """
        WITH daily AS (
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   event_type AS key,
                   CAST(count(*) AS BIGINT) AS n_events,
                   sum(value) AS v
            FROM events GROUP BY 1, 2
        )
        SELECT key, day, n_events,
               round(v, 2) AS day_value,
               CAST(sum(n_events) OVER w AS BIGINT) AS events_7d,
               round(sum(v) OVER w, 2) AS value_7d
        FROM daily
        WINDOW w AS (
            PARTITION BY key
            ORDER BY date_diff('day', TIMESTAMP '2024-01-01', day)
            RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
        )
        ORDER BY key, day
    """

    sql["q_events_active_users"] = """
        WITH du AS (
            SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP)
                       AS u_day,
                   user_id AS u
            FROM events
        ),
        days AS (SELECT DISTINCT u_day AS day FROM du)
        SELECT d.day,
               count(DISTINCT CASE WHEN du.u_day = d.day THEN du.u END)
                   AS dau,
               count(DISTINCT du.u) AS wau
        FROM days d
        JOIN du ON du.u_day >= d.day - INTERVAL 6 DAY
               AND du.u_day <= d.day
        GROUP BY d.day
        ORDER BY d.day
    """

    # q_events_cohort_retention: integer day-index // 7 period, first
    # period = cohort, matrix join back to the offset-0 cell, stable
    # half-up rate division.
    sql["q_events_cohort_retention"] = """
        WITH uw AS (
            SELECT DISTINCT user_id AS u,
                   CAST(floor(date_diff('day', DATE '2024-01-01',
                              CAST(date_trunc('day', ts) AS DATE)) / 7.0)
                        AS BIGINT) AS wk
            FROM events
        ),
        coh AS (SELECT u, min(wk) AS cohort_week FROM uw GROUP BY u),
        m AS (
            SELECT c.cohort_week, uw.wk - c.cohort_week AS period_offset,
                   count(DISTINCT uw.u) AS active_users
            FROM uw JOIN coh c ON c.u = uw.u
            GROUP BY c.cohort_week, uw.wk - c.cohort_week
        ),
        base AS (SELECT cohort_week, active_users AS cohort_size
                 FROM m WHERE period_offset = 0)
        SELECT m.cohort_week, m.period_offset, m.active_users, b.cohort_size,
               floor(m.active_users * 10000.0 / b.cohort_size + 0.5)
                   / 10000 AS retention_rate
        FROM m JOIN base b ON b.cohort_week = m.cohort_week
        ORDER BY m.cohort_week, m.period_offset
    """

    # streaming retention maintenance: the stream-folded presence SET
    # must land the same triangle — distinct-union closure, same oracle.
    sql["q_stream_retention_maintenance"] = sql["q_events_cohort_retention"]

    # q_media_frames: arithmetic re-derivation of the frame sampler —
    # ceil-div frame counts, 12-byte header per emitted frame, and the
    # 0..n-1 index arithmetic sum (corpus is ASCII: chars == bytes).
    sql["q_media_frames"] = """
        SELECT doc_id AS media_id,
               CAST((strlen(text) + 63) // 64 AS BIGINT) AS n_frames,
               CAST(12 * ((strlen(text) + 63) // 64)
                    + strlen(text) AS BIGINT) AS frame_bytes,
               CAST(((strlen(text) + 63) // 64)
                    * (((strlen(text) + 63) // 64) - 1) // 2
                    AS BIGINT) AS frame_index_sum
        FROM documents
        WHERE strlen(text) > 0
        ORDER BY media_id
    """

    sql["q_doc_shards"] = f"""
        WITH {_TOKS_CTE},
        base AS (
            SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                        AS BIGINT) % 8 AS shard,
                   CAST(len(raw_toks) AS BIGINT) AS nt,
                   doc_id
            FROM tok_base
        )
        SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(nt) AS BIGINT) AS n_tokens,
               CAST(sum(doc_id) AS BIGINT) AS id_checksum
        FROM base GROUP BY shard ORDER BY shard
    """

    # q_doc_blocklist: C4-style blocked-token fraction over raw tokens;
    # the list and threshold are interpolated from the SAME constants
    # the Spark plan embeds. Basis points via the repo-wide integer
    # quantization.
    _bl_list = ", ".join(f"'{w}'" for w in quality.BLOCKLIST_DEFAULT)
    sql["q_doc_blocklist"] = f"""
        WITH {_TOKS_CTE},
        sig AS (
            SELECT doc_id, source,
                   CAST(len(raw_toks) AS BIGINT) AS n_tokens,
                   CAST(len(list_filter(raw_toks,
                            x -> x IN ({_bl_list}))) AS BIGINT)
                       AS blocked_tokens
            FROM tok_base
        )
        SELECT doc_id, source, n_tokens, blocked_tokens,
               CASE WHEN n_tokens > 0
                    THEN CAST(round(10000.0 * blocked_tokens / n_tokens)
                              AS BIGINT)
                    ELSE 0 END AS blocked_bp,
               (CASE WHEN n_tokens > 0
                     THEN CAST(round(10000.0 * blocked_tokens / n_tokens)
                               AS BIGINT)
                     ELSE 0 END) <= {quality.BLOCKLIST_MAX_BP} AS keep
        FROM sig
        ORDER BY doc_id
    """

    # q_doc_quality_classifier: hashed-linear scorer — both engines
    # derive bucket and pseudo-weight from the same md5 recipe, so the
    # per-token weights are bit-identical; mean + sigmoid rounded 4dp.
    _ncls = quality.CLASSIFIER_BUCKETS
    sql["q_doc_quality_classifier"] = f"""
        WITH {_TOKS_CTE},
        tok AS (SELECT doc_id, unnest(raw_toks) AS token FROM tok_base),
        wt AS (
            SELECT doc_id,
                   ((CAST('0x' || substr(md5('w' || CAST(
                         CAST('0x' || substr(md5(token), 1, 8) AS BIGINT)
                             % {_ncls} AS VARCHAR)), 1, 8) AS BIGINT)
                     % 2001) - 1000) / 1000.0 AS w
            FROM tok
        ),
        per AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                   round(sum(w), 6) AS s6
            FROM wt GROUP BY doc_id
        )
        SELECT tb.doc_id,
               CAST(coalesce(per.n_tokens, 0) AS BIGINT) AS n_tokens,
               floor(coalesce(per.s6, 0.0) * 10000.0
                     / greatest(coalesce(per.n_tokens, 0), 1) + 0.5)
                   / 10000.0 AS margin,
               round(1.0 / (1.0 + exp(-(coalesce(per.s6, 0.0)
                     / greatest(coalesce(per.n_tokens, 0), 1)))), 4)
                   AS quality_prob
        FROM tok_base tb LEFT JOIN per USING (doc_id)
        ORDER BY tb.doc_id
    """

    # q_doc_chunks: RAG chunker — ceil-div chunk count, 1-based
    # inclusive list_slice mirrors F.slice(start, length) exactly.
    _cs, _st = packing.CHUNK_SIZE, packing.CHUNK_STRIDE
    sql["q_doc_chunks"] = f"""
        WITH {_TOKS_CTE},
        base AS (
            SELECT doc_id, raw_toks, len(raw_toks) AS n
            FROM tok_base WHERE len(raw_toks) > 0
        ),
        idx AS (
            SELECT doc_id, raw_toks,
                   unnest(range(0, (n + {_st - 1}) // {_st})) AS chunk_idx
            FROM base
        )
        SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
               CAST(len(list_slice(raw_toks, chunk_idx * {_st} + 1,
                                   chunk_idx * {_st} + {_cs})) AS BIGINT)
                   AS n_chunk_tokens,
               array_to_string(
                   list_slice(raw_toks, chunk_idx * {_st} + 1,
                              chunk_idx * {_st} + {_cs}), ' ')
                   AS chunk_text
        FROM idx
        ORDER BY doc_id, chunk_idx
    """

    # q_doc_pmi_collocations: PMI over stopword-filtered adjacent
    # bigrams; counts/totals are exact integers, the single ln is
    # rounded 4dp BEFORE the (pmi, bigram) top-k order.
    # q_source_divergence: same single (source, token) count relation
    # re-aggregated three ways; probabilities are exact-long ratios and
    # only the ln-term sums are rounded (6dp).
    sql["q_source_divergence"] = f"""
        WITH {_TOKS_CTE},
        sc AS (
            SELECT source, w, count(*) AS c_sv
            FROM (SELECT source, unnest(toks) AS w FROM tok_clean)
            GROUP BY source, w
        ),
        st AS (SELECT source, CAST(sum(c_sv) AS BIGINT) AS t_s
               FROM sc GROUP BY source),
        cc AS (SELECT w, CAST(sum(c_sv) AS BIGINT) AS c_v
               FROM sc GROUP BY w),
        tot AS (SELECT CAST(sum(c_v) AS BIGINT) AS t FROM cc),
        grid AS (
            SELECT st.source, cc.w, st.t_s, cc.c_v, tot.t, sc.c_sv
            FROM st CROSS JOIN cc CROSS JOIN tot
            LEFT JOIN sc ON sc.source = st.source AND sc.w = cc.w
        ),
        terms AS (
            SELECT source, t_s, c_sv,
                   coalesce(c_sv, 0) / CAST(t_s AS DOUBLE) AS p,
                   c_v / CAST(t AS DOUBLE) AS q
            FROM grid
        )
        SELECT source,
               min(t_s) AS n_tokens,
               CAST(count(c_sv) AS BIGINT) AS vocab_size,
               round(sum(CASE WHEN p > 0 THEN p * ln(p / q)
                              ELSE 0.0 END), 6) AS kl_vs_corpus,
               round(sum(0.5 * (CASE WHEN p > 0
                                     THEN p * ln(2.0 * p / (p + q))
                                     ELSE 0.0 END)
                         + 0.5 * q * ln(2.0 * q / (p + q))),
                     6) AS jsd_vs_corpus
        FROM terms
        GROUP BY source
        ORDER BY source
    """

    # q_token_pagerank: DuckDB replays the quantized PageRank walk —
    # symmetrized adjacent-bigram edges over the same stop-filtered
    # token stream, uniform 1/N init, 10dp-quantized in-sums and rank
    # values per iteration (one CTE block per iteration), ranked cut.
    _pr_d, _pr_iters = 0.85, 3
    _pr_blocks = [
        f"""
        tok_seq AS (
            SELECT doc_id,
                   unnest(toks) AS tok,
                   unnest(range(1, len(toks) + 1)) AS pos
            FROM tok_clean
        ),
        bgc AS (
            SELECT a.tok AS w1, b.tok AS w2, count(*) AS c
            FROM tok_seq a
            JOIN tok_seq b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
            GROUP BY a.tok, b.tok
        ),
        edges AS (
            SELECT src, dst, CAST(sum(c) AS DOUBLE) AS w
            FROM (SELECT w1 AS src, w2 AS dst, c FROM bgc
                  UNION ALL
                  SELECT w2 AS src, w1 AS dst, c FROM bgc)
            GROUP BY src, dst
        ),
        outw AS (SELECT src, sum(w) AS out_w FROM edges GROUP BY src),
        nn AS (SELECT count(*) AS n FROM outw),
        pr0 AS (
            SELECT src AS token, round(1.0 / nn.n, 10) AS pr
            FROM outw, nn
        )"""
    ]
    for _t in range(1, _pr_iters + 1):
        _pr_blocks.append(
            f"""
        pr{_t} AS (
            SELECT o.src AS token,
                   round((1.0 - {_pr_d}) / nn.n
                         + {_pr_d} * coalesce(c.contrib, 0.0), 10) AS pr
            FROM outw o
            CROSS JOIN nn
            LEFT JOIN (
                SELECT e.dst,
                       round(sum(p.pr * e.w / ow.out_w), 10) AS contrib
                FROM edges e
                JOIN pr{_t - 1} p ON p.token = e.src
                JOIN outw ow ON ow.src = e.src
                GROUP BY e.dst
            ) c ON c.dst = o.src
        )"""
        )
    sql["q_token_pagerank"] = (
        f"WITH {_TOKS_CTE},"
        + ",".join(_pr_blocks)
        + f"""
        SELECT token, pr,
               CAST(row_number() OVER (ORDER BY pr DESC, token)
                    AS INT) AS rank
        FROM pr{_pr_iters}
        ORDER BY pr DESC, token
        LIMIT 20
    """
    )

    sql["q_doc_pmi_collocations"] = f"""
        WITH {_TOKS_CTE},
        tp AS (
            SELECT doc_id, unnest(toks) AS tok,
                   unnest(range(1, len(toks) + 1)) AS pos
            FROM tok_clean
        ),
        uc AS (
            SELECT tok AS w, CAST(count(*) AS BIGINT) AS c_w
            FROM tp GROUP BY 1
        ),
        bg AS (
            SELECT a.tok AS w1, b.tok AS w2,
                   a.tok || ' ' || b.tok AS bigram
            FROM tp a JOIN tp b
              ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        ),
        bc AS (
            SELECT bigram, w1, w2, CAST(count(*) AS BIGINT) AS c_ab
            FROM bg GROUP BY 1, 2, 3
            HAVING count(*) >= {frequency.PMI_MIN_COUNT}
        ),
        tots AS (
            SELECT (SELECT CAST(count(*) AS BIGINT) FROM tp) AS t_tokens,
                   (SELECT CAST(sum(greatest(len(toks) - 1, 0)) AS BIGINT)
                    FROM tok_clean) AS t_bigrams
        )
        SELECT bigram, c_ab, u1.c_w AS c_a, u2.c_w AS c_b,
               round(ln((c_ab / t_bigrams)
                        / ((u1.c_w / t_tokens) * (u2.c_w / t_tokens))),
                     4) AS pmi
        FROM bc
        JOIN uc u1 ON u1.w = bc.w1
        JOIN uc u2 ON u2.w = bc.w2, tots
        ORDER BY pmi DESC, bigram
        LIMIT 25
    """

    # streaming PageRank maintenance: the stream-folded co-occurrence
    # graph must land the SAME power iteration on bit-identical doubles
    # — counts are closed under addition, so same oracle.
    sql["q_stream_pagerank_maintenance"] = sql["q_token_pagerank"]

    # q_semantic_dedup: SemDeDup drop list — deterministic sign-bit
    # cells with a COUNT-DERIVED plane count (ADVICE r5: the Spark side
    # auto-sizes n_cell_planes = max(6, ceil(log2(n/32))); the static
    # 6-plane constants diverged on any corpus > 2k vectors). 16 sign
    # bits are inlined (enough for ~2M vectors); the cell id dots the
    # first ncp of them with LSB-first weights 2^i, matching cell_id's
    # ``1 << p`` fold exactly.
    _cbits16 = ",\n                    ".join(
        f"CASE WHEN list_dot_product(vec, {_plane_lit(_p)}) > 0 "
        "THEN 1.0 ELSE 0.0 END"
        for _p in range(16)
    )
    sql["q_semantic_dedup"] = f"""
        WITH prmc AS (
            SELECT CAST(greatest(6.0,
                       ceil(log2(greatest(count(*), 2) / 32.0)))
                       AS INT) AS ncp
            FROM embeddings
        ),
        v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
            FROM embeddings
        ),
        cbits AS (
            SELECT vec_id, vec,
                   [{_cbits16}] AS cb
            FROM v
        ),
        cells AS (
            SELECT t.vec_id, t.vec,
                   CAST(list_dot_product(
                       t.cb[1 : p.ncp],
                       list_transform(range(0, p.ncp), i -> 2.0 ** i)
                   ) AS INT) AS cell
            FROM cbits t CROSS JOIN prmc p
        ),
        pairs AS (
            SELECT a.vec_id AS dup_id, b.vec_id AS rep_id,
                   round(list_dot_product(a.vec, b.vec) /
                         (sqrt(list_dot_product(a.vec, a.vec)) *
                          sqrt(list_dot_product(b.vec, b.vec))), 6)
                       AS cosine_sim
            FROM cells a
            JOIN cells b ON b.cell = a.cell AND b.vec_id < a.vec_id
        ),
        ranked AS (
            SELECT dup_id, rep_id, cosine_sim,
                   row_number() OVER (
                       PARTITION BY dup_id
                       ORDER BY cosine_sim DESC, rep_id
                   ) AS rnk
            FROM pairs
            WHERE cosine_sim >= {similarity.SEMDEDUP_THRESHOLD}
        )
        SELECT dup_id, rep_id, cosine_sim
        FROM ranked WHERE rnk = 1
        ORDER BY dup_id
    """

    # q_doc_bpe_pairs: weighted adjacent char pairs over the DISTINCT
    # word table (the corpus contributes one scan for word counts);
    # all-integer output, no float surface.
    sql["q_doc_bpe_pairs"] = f"""
        WITH {_TOKS_CTE},
        words AS (
            SELECT word, CAST(count(*) AS BIGINT) AS word_freq
            FROM (SELECT unnest(raw_toks) AS word FROM tok_base)
            GROUP BY word
            HAVING length(word) >= 2
        ),
        pairs AS (
            SELECT word, word_freq,
                   substr(word, CAST(i AS INT), 2) AS pair
            FROM words, unnest(range(1, length(word))) AS t(i)
        )
        SELECT pair,
               CAST(sum(word_freq) AS BIGINT) AS pair_count,
               CAST(count(DISTINCT word) AS BIGINT) AS n_words
        FROM pairs
        GROUP BY pair
        ORDER BY pair_count DESC, pair
        LIMIT 30
    """

    # q_label_centroid_stats: every cross-engine sum quantized before
    # reuse — round(sum,6)/count centroid dims, round-8 norms, round-6
    # dots/cosines, floor-half-up mean (stable_round_div twin).
    sql["q_label_centroid_stats"] = """
        WITH v AS (
            SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS vec
            FROM embeddings
        ),
        dims AS (
            SELECT label, vec_id,
                   unnest(vec) AS x,
                   unnest(range(0, len(vec))) AS dim
            FROM v
        ),
        cent AS (
            SELECT label, dim, round(sum(x), 6) / count(*) AS m
            FROM dims GROUP BY 1, 2
        ),
        cnorm AS (
            SELECT label, round(sqrt(sum(m * m)), 8) AS c_norm
            FROM cent GROUP BY label
        ),
        dots AS (
            SELECT d.label, d.vec_id, round(sum(d.x * c.m), 6) AS dot_vc
            FROM dims d JOIN cent c USING (label, dim)
            GROUP BY 1, 2
        ),
        vnorm AS (
            SELECT label, vec_id,
                   round(sqrt(list_dot_product(vec, vec)), 8) AS v_norm
            FROM v
        ),
        cosr AS (
            SELECT d.label,
                   round(dot_vc / (v_norm * c_norm), 6) AS c
            FROM dots d
            JOIN vnorm USING (label, vec_id)
            JOIN cnorm USING (label)
        ),
        agg AS (
            SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
                   floor(round(sum(c), 6) * 10000.0 / count(*) + 0.5)
                       / 10000.0 AS mean_cos
            FROM cosr GROUP BY label
        )
        SELECT label, n_vectors,
               round(c_norm, 4) AS centroid_norm, mean_cos
        FROM agg JOIN cnorm USING (label)
        ORDER BY label
    """

    # q_hybrid_search: RRF fusion of the BM25 leg (same fragments as
    # q_doc_bm25_topk, cut at 20) and the brute-force cosine leg (query
    # vector 0, cut at 20); ranks recomputed from each leg's rounded
    # sort key, reciprocal sum rounded 6dp before the final order.
    _hybrid_terms = ", ".join(
        f"'{t}'" for t in retrieval.HYBRID_QUERY_TERMS
    )
    sql["q_hybrid_search"] = f"""
        WITH {_TOKS_CTE},
        tok AS (SELECT doc_id, unnest(raw_toks) AS token FROM tok_base),
        dl AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
            FROM tok GROUP BY doc_id
        ),
        tf AS (
            SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
            FROM tok WHERE token IN ({_hybrid_terms})
            GROUP BY 1, 2
        ),
        dfreq AS (
            SELECT token, CAST(count(*) AS BIGINT) AS df
            FROM tf GROUP BY token
        ),
        stats AS (
            SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents)
                       AS n_docs,
                   (SELECT CAST(sum(dl) AS BIGINT) FROM dl) AS tot_dl
        ),
        lex_scores AS (
            SELECT doc_id,
                   round(sum(
                       ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                       * tf * (1.2 + 1.0)
                       / (tf + 1.2 * ((1.0 - 0.75)
                                      + 0.75 * dl * n_docs / tot_dl))
                   ), 4) AS bm25
            FROM tf
            JOIN dfreq USING (token)
            JOIN dl USING (doc_id), stats
            GROUP BY doc_id
            ORDER BY bm25 DESC, doc_id
            LIMIT 20
        ),
        lex AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY bm25 DESC, doc_id)
                       AS rank_lex
            FROM lex_scores
        ),
        v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
            FROM embeddings
        ),
        qv AS (SELECT vec FROM v WHERE vec_id = 0),
        vs AS (
            SELECT n.vec_id AS doc_id,
                   round(list_dot_product(qv.vec, n.vec) /
                         (sqrt(list_dot_product(qv.vec, qv.vec)) *
                          sqrt(list_dot_product(n.vec, n.vec))), 6)
                       AS cos
            FROM v n, qv WHERE n.vec_id <> 0
        ),
        vecr AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY cos DESC, doc_id)
                       AS rank_vec
            FROM vs ORDER BY cos DESC, doc_id LIMIT 20
        )
        SELECT coalesce(l.doc_id, r.doc_id) AS doc_id,
               l.rank_lex, r.rank_vec,
               round(coalesce(1.0 / (60 + l.rank_lex), 0.0)
                     + coalesce(1.0 / (60 + r.rank_vec), 0.0), 6) AS rrf
        FROM lex l FULL OUTER JOIN vecr r ON r.doc_id = l.doc_id
        ORDER BY rrf DESC, doc_id
        LIMIT 10
    """

    # q_corpus_datacard: per-source volume / language-entropy /
    # dup-pressure report; entropy via ln(N) - (sum n ln n)/N over
    # integer counts (no per-language join-back), stable mean division.
    sql["q_corpus_datacard"] = f"""
        WITH {_TOKS_CTE},
        base AS (
            SELECT tb.source, d.lang,
                   CAST(len(tb.raw_toks) AS BIGINT) AS nt,
                   md5(d.text) AS gk
            FROM tok_base tb JOIN documents d USING (doc_id)
        ),
        by_lang AS (
            SELECT source, lang, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(nt) AS BIGINT) AS ntl
            FROM base GROUP BY 1, 2
        ),
        per_source AS (
            SELECT source,
                   CAST(sum(n) AS BIGINT) AS n_docs,
                   CAST(sum(ntl) AS BIGINT) AS n_tokens,
                   CAST(count(*) AS BIGINT) AS n_langs,
                   sum(n * ln(n)) AS snln
            FROM by_lang GROUP BY source
        ),
        dups AS (
            SELECT source,
                   CAST(count(*) - count(DISTINCT gk) AS BIGINT)
                       AS dup_docs
            FROM base GROUP BY source
        )
        SELECT source, n_docs, n_tokens, n_langs,
               round(ln(n_docs) - snln / n_docs, 4) AS lang_entropy,
               dup_docs,
               floor(CAST(n_tokens AS DOUBLE) * 100.0 / n_docs + 0.5)
                   / 100.0 AS mean_doc_tokens
        FROM per_source JOIN dups USING (source)
        ORDER BY source
    """

    # q_doc_leakage_split: split variate = hash_uniform(md5(text)) —
    # byte-identical docs share a variate, so they share a side.
    sql["q_doc_leakage_split"] = f"""
        WITH g AS (
            SELECT doc_id, md5(text) AS gk,
                   CAST('0x' || substr(md5(md5(text)), 1, 8) AS BIGINT)
                       / 4294967296.0 AS u
            FROM documents
        )
        SELECT CASE WHEN u < {sampling.TRAIN_FRAC} THEN 'train'
                    ELSE 'val' END AS split,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT gk) AS BIGINT) AS n_groups,
               CAST(sum(doc_id) AS BIGINT) AS id_checksum
        FROM g GROUP BY 1 ORDER BY 1
    """
    # q_knn_truncated_recall: both rank lists recomputed in SQL (full
    # dims and list_slice-truncated), overlap counted per query, stable
    # half-up recall.
    sql["q_knn_truncated_recall"] = """
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
            FROM embeddings
        ),
        fullr AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY round(list_dot_product(q.vec, n.vec) /
                                 (sqrt(list_dot_product(q.vec, q.vec)) *
                                  sqrt(list_dot_product(n.vec, n.vec))),
                                 6) DESC, n.vec_id
                       ) AS rnk
                FROM v q JOIN v n ON n.vec_id <> q.vec_id
                WHERE q.vec_id < 5
            ) WHERE rnk <= 10
        ),
        tv AS (SELECT vec_id, vec[1:16] AS vec FROM v),
        truncr AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY round(list_dot_product(q.vec, n.vec) /
                                 (sqrt(list_dot_product(q.vec, q.vec)) *
                                  sqrt(list_dot_product(n.vec, n.vec))),
                                 6) DESC, n.vec_id
                       ) AS rnk
                FROM tv q JOIN tv n ON n.vec_id <> q.vec_id
                WHERE q.vec_id < 5
            ) WHERE rnk <= 10
        )
        SELECT f.query_id,
               count(t.neighbor_id) AS overlap,
               floor(count(t.neighbor_id) * 10000.0 / count(*) + 0.5)
                   / 10000 AS recall_at_k
        FROM fullr f
        LEFT JOIN truncr t ON t.query_id = f.query_id
                          AND t.neighbor_id = f.neighbor_id
        GROUP BY f.query_id
        ORDER BY f.query_id
    """

    # q_events_scd2: groups-of-changes in SQL — lag marks change
    # points, running sum numbers runs, min/lead build the validity
    # intervals; microsecond integers end to end.
    sql["q_events_scd2"] = """
        WITH base AS (
            SELECT user_id,
                   epoch_us(ts) AS us,
                   event_id AS tb,
                   event_type AS state
            FROM events
        ),
        marked AS (
            SELECT *,
                   CASE WHEN lag(state) OVER w IS NULL
                             OR lag(state) OVER w <> state
                        THEN 1 ELSE 0 END AS chg
            FROM base
            WINDOW w AS (PARTITION BY user_id ORDER BY us, tb)
        ),
        runs AS (
            SELECT *,
                   sum(chg) OVER (
                       PARTITION BY user_id ORDER BY us, tb
                       ROWS UNBOUNDED PRECEDING) AS run
            FROM marked
        ),
        hist AS (
            SELECT user_id, run, min(state) AS state,
                   min(us) AS valid_from_us,
                   count(*) AS n_records
            FROM runs GROUP BY user_id, run
        )
        SELECT user_id,
               CAST(run AS BIGINT) AS version,
               state,
               valid_from_us,
               lead(valid_from_us) OVER (
                   PARTITION BY user_id ORDER BY run) AS valid_to_us,
               n_records
        FROM hist
        ORDER BY user_id, version
    """

    # q_lineitem_zorder: the SAME zorder_sql() helper generates the
    # Morton-key arithmetic for DuckDB, so both engines interleave
    # identical bits; bucket = top 8 of 32 interleaved bits.
    _z_expr = ordering.zorder_sql("a_n", "b_n", 16)
    sql["q_lineitem_zorder"] = f"""
        WITH st AS (
            SELECT min(l_partkey) AS amin, max(l_partkey) AS amax,
                   min(l_suppkey) AS bmin, max(l_suppkey) AS bmax
            FROM lineitem
        ),
        norm AS (
            SELECT l_partkey, l_suppkey,
                   CASE WHEN amax > amin THEN CAST(floor(
                        ((l_partkey - amin) * 65535) / (amax - amin))
                        AS BIGINT) ELSE 0 END AS a_n,
                   CASE WHEN bmax > bmin THEN CAST(floor(
                        ((l_suppkey - bmin) * 65535) / (bmax - bmin))
                        AS BIGINT) ELSE 0 END AS b_n
            FROM lineitem, st
        )
        SELECT ({_z_expr}) >> 24 AS z_bucket,
               count(*) AS n_rows,
               min(l_partkey) AS a_min, max(l_partkey) AS a_max,
               min(l_suppkey) AS b_min, max(l_suppkey) AS b_max
        FROM norm
        GROUP BY 1
        ORDER BY z_bucket
    """

    # q_events_value_quantiles: fixed-grid histogram quantiles — bounds
    # and width recomputed in SQL from the same order-insensitive
    # min/max (identical doubles), interpolation inside the hit bin.
    _hq = []
    for _q in (0.5, 0.9, 0.99):
        _hq.append(
            f"""
        SELECT CAST({_q} AS DOUBLE) AS quantile,
               round(mn + bin * w
                     + (CAST({_q} AS DOUBLE) * n - (cum - c)) / c * w, 6)
                   AS estimate
        FROM (SELECT cum.*, st.mn, st.w, st.n FROM cum, st
              WHERE cum.cum >= CAST({_q} AS DOUBLE) * st.n
              ORDER BY bin LIMIT 1)"""
        )
    sql["q_events_value_quantiles"] = (
        """
        WITH st AS (
            SELECT min(value) AS mn, max(value) AS mx,
                   count(value) AS n,
                   (max(value) - min(value)) / 256.0 AS w
            FROM events
        ),
        b AS (
            SELECT least(CAST(floor((value - st.mn) / st.w) AS BIGINT),
                         255) AS bin,
                   count(*) AS c
            FROM events, st
            WHERE value IS NOT NULL
            GROUP BY 1
        ),
        cum AS (
            SELECT bin, c,
                   CAST(sum(c) OVER (ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM b
        )"""
        + " UNION ALL ".join(_hq)
        + " ORDER BY quantile"
    )

    # q_events_exact_quantiles: EXACT order statistics. The Spark side
    # finds the k-th smallest by iterative bracket descent (no global
    # sort); the oracle replays the SAME inverse-CDF rank rule —
    # k = max(1, ceil(q * n)) computed in IEEE doubles on both sides
    # (q cast to DOUBLE so DuckDB cannot take the exact DECIMAL path
    # the Spark literal doesn't have) — against a plain row_number.
    sql["q_events_exact_quantiles"] = """
        WITH n AS (SELECT count(*) AS n FROM events WHERE value IS NOT NULL),
        qs(q) AS (VALUES (0.01), (0.25), (0.5), (0.75), (0.9), (0.99)),
        ks AS (
            SELECT CAST(q AS DOUBLE) AS q,
                   greatest(1, CAST(ceil(CAST(q AS DOUBLE) * n) AS BIGINT))
                       AS rank
            FROM qs, n
        ),
        ranked AS (
            SELECT value, row_number() OVER (ORDER BY value) AS r
            FROM events WHERE value IS NOT NULL
        )
        SELECT q, rank, value
        FROM ks JOIN ranked ON r = rank
        ORDER BY q
    """

    # q_events_grouped_exact_quantiles: keyed EXACT selection — same
    # pinned rank rule per event type, replayed with a partitioned
    # row_number.
    sql["q_events_grouped_exact_quantiles"] = """
        WITH n AS (
            SELECT event_type, count(*) AS n FROM events
            WHERE value IS NOT NULL AND event_type IS NOT NULL
            GROUP BY event_type
        ),
        qs(q) AS (VALUES (0.5), (0.9), (0.99)),
        ks AS (
            SELECT event_type, CAST(q AS DOUBLE) AS q,
                   greatest(1, CAST(ceil(CAST(q AS DOUBLE) * n) AS BIGINT))
                       AS rank
            FROM qs, n
        ),
        ranked AS (
            SELECT event_type, value,
                   row_number() OVER (
                       PARTITION BY event_type ORDER BY value) AS r
            FROM events
            WHERE value IS NOT NULL AND event_type IS NOT NULL
        )
        SELECT k.event_type, k.q, k.rank, rk.value
        FROM ks k JOIN ranked rk
          ON rk.event_type = k.event_type AND rk.r = k.rank
        ORDER BY k.event_type, k.q
    """

    # q_doc_weighted_length_quantiles: exact weighted selection — the
    # smallest value whose cumulative INTEGER weight crosses q*W (the
    # one double both engines derive from the same q and long W).
    sql["q_doc_weighted_length_quantiles"] = """
        WITH w AS (
            SELECT CAST(n_chars AS DOUBLE) AS v,
                   CAST(n_chars AS BIGINT) AS wt
            FROM documents
            WHERE n_chars IS NOT NULL AND n_chars > 0
        ),
        tot AS (SELECT CAST(sum(wt) AS BIGINT) AS W FROM w),
        g AS (SELECT v, CAST(sum(wt) AS BIGINT) AS gw FROM w GROUP BY v),
        c AS (
            SELECT v, CAST(sum(gw) OVER (
                ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM g
        ),
        qs(q) AS (VALUES (0.25), (0.5), (0.75), (0.9))
        SELECT CAST(q AS DOUBLE) AS q, min(v) AS value
        FROM c, tot, qs
        WHERE cum >= CAST(q AS DOUBLE) * W
        GROUP BY 1
        ORDER BY q
    """

    # q_doc_source_weighted_length: per-key weighted selection — per
    # source, smallest v whose cumulative LONG weight crosses
    # q * W(source).
    sql["q_doc_source_weighted_length"] = """
        WITH w AS (
            SELECT source, CAST(n_chars AS DOUBLE) AS v,
                   CAST(n_chars AS BIGINT) AS wt
            FROM documents
            WHERE n_chars IS NOT NULL AND n_chars > 0
              AND source IS NOT NULL
        ),
        tot AS (
            SELECT source, CAST(sum(wt) AS BIGINT) AS W
            FROM w GROUP BY source
        ),
        g AS (
            SELECT source, v, CAST(sum(wt) AS BIGINT) AS gw
            FROM w GROUP BY source, v
        ),
        c AS (
            SELECT source, v, CAST(sum(gw) OVER (
                PARTITION BY source
                ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM g
        ),
        qs(q) AS (VALUES (0.5), (0.9))
        SELECT c.source, CAST(q AS DOUBLE) AS q, min(v) AS value
        FROM c JOIN tot ON tot.source = c.source, qs
        WHERE cum >= CAST(q AS DOUBLE) * W
        GROUP BY c.source, q
        ORDER BY c.source, q
    """

    # q_lineitem_aqp_revenue: AQP — the deterministic 1% hash sample
    # is a pure row-key function, moments fold as DECIMAL(38,0) exact
    # integers, and every double (p = 1.0/100, the CLT arithmetic) is
    # derived from the same exact inputs with the same op order.
    sql["q_lineitem_aqp_revenue"] = """
        WITH r AS (
            SELECT CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)
                        || '-' || CAST(l_linenumber AS VARCHAR)), 1, 12)
                        AS BIGINT) % 100 = 0 AS in_sample,
                   CAST(round(l_extendedprice * (1 - l_discount) * 10000,
                              0) AS DECIMAL(38,0)) AS u
            FROM lineitem
        ),
        agg AS (
            SELECT CAST(sum(CASE WHEN in_sample THEN u END)
                        AS DECIMAL(38,0)) AS s_units,
                   CAST(sum(CASE WHEN in_sample THEN u * u END)
                        AS DECIMAL(38,0)) AS sq_units,
                   count(CASE WHEN in_sample THEN 1 END) AS n_sampled,
                   CAST(sum(u) AS DECIMAL(38,0)) AS exact_units
            FROM r
        ),
        sc AS (
            SELECT n_sampled,
                   round(coalesce(CAST(s_units AS DOUBLE), 0.0)
                         / (1.0 / 100) / 10000.0, 2) AS est,
                   round(CAST(exact_units AS DOUBLE) / 10000.0, 2)
                       AS exact,
                   round(1.96 * sqrt(coalesce(CAST(sq_units AS DOUBLE),
                                              0.0)
                             * (1.0 - (1.0 / 100))
                             / ((1.0 / 100) * (1.0 / 100)))
                         / 10000.0, 2) AS ci95_half
            FROM agg
        )
        SELECT n_sampled, est, exact,
               floor(abs(est - exact) * 100.0 * 10000.0 / exact + 0.5)
                   / 10000.0 AS rel_err_pct,
               ci95_half
        FROM sc
    """

    # q_lineitem_aqp_by_flag: the grouped dashboard form — same sample
    # and moment discipline, one row per return flag.
    sql["q_lineitem_aqp_by_flag"] = """
        WITH r AS (
            SELECT l_returnflag AS g,
                   CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)
                        || '-' || CAST(l_linenumber AS VARCHAR)), 1, 12)
                        AS BIGINT) % 100 = 0 AS in_sample,
                   CAST(round(l_extendedprice * (1 - l_discount) * 10000,
                              0) AS DECIMAL(38,0)) AS u
            FROM lineitem
            WHERE l_returnflag IS NOT NULL
        ),
        agg AS (
            SELECT g,
                   CAST(sum(CASE WHEN in_sample THEN u END)
                        AS DECIMAL(38,0)) AS s_units,
                   CAST(sum(CASE WHEN in_sample THEN u * u END)
                        AS DECIMAL(38,0)) AS sq_units,
                   count(CASE WHEN in_sample THEN 1 END) AS n_sampled,
                   CAST(sum(u) AS DECIMAL(38,0)) AS exact_units
            FROM r GROUP BY g
        ),
        sc AS (
            SELECT g, n_sampled,
                   round(coalesce(CAST(s_units AS DOUBLE), 0.0)
                         / (1.0 / 100) / 10000.0, 2) AS est,
                   round(CAST(exact_units AS DOUBLE) / 10000.0, 2)
                       AS exact,
                   round(1.96 * sqrt(coalesce(CAST(sq_units AS DOUBLE),
                                              0.0)
                             * (1.0 - (1.0 / 100))
                             / ((1.0 / 100) * (1.0 / 100)))
                         / 10000.0, 2) AS ci95_half
            FROM agg
        )
        SELECT g AS l_returnflag, n_sampled, est, exact,
               floor(abs(est - exact) * 100.0 * 10000.0 / exact + 0.5)
                   / 10000.0 AS rel_err_pct,
               ci95_half
        FROM sc
        ORDER BY l_returnflag
    """

    # q_lineitem_aqp_quantile: the sample and the full column both go
    # through the pinned rank rule (max(1, ceil(q*n)) over row_number),
    # and the binomial rank-bound arithmetic is the identical IEEE
    # double op sequence on both engines, so every selected VALUE is
    # bit-equal.
    sql["q_lineitem_aqp_quantile"] = """
        WITH s AS (
            SELECT l_extendedprice AS v
            FROM lineitem
            WHERE l_extendedprice IS NOT NULL
              AND CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)
                       || '-' || CAST(l_linenumber AS VARCHAR)), 1, 12)
                       AS BIGINT) % 100 = 0
        ),
        m AS (SELECT count(*) AS m FROM s),
        nn AS (SELECT count(*) AS n FROM lineitem
               WHERE l_extendedprice IS NOT NULL),
        ranks AS (
            SELECT m,
                   greatest(1, CAST(ceil(0.5 * m) AS BIGINT)) AS r_mid,
                   greatest(1, CAST(ceil(0.5 * m
                       - 1.96 * sqrt(m * 0.5 * (1.0 - 0.5)))
                       AS BIGINT)) AS r_lo,
                   least(m, CAST(ceil(0.5 * m
                       + 1.96 * sqrt(m * 0.5 * (1.0 - 0.5)))
                       AS BIGINT)) AS r_hi
            FROM m
        ),
        rs AS (
            SELECT v, row_number() OVER (ORDER BY v) AS rn FROM s
        ),
        re AS (
            SELECT l_extendedprice AS v,
                   row_number() OVER (ORDER BY l_extendedprice) AS rn
            FROM lineitem WHERE l_extendedprice IS NOT NULL
        ),
        picks AS (
            SELECT ranks.m AS n_sampled,
                   (SELECT v FROM rs WHERE rn =
                        greatest(1, least(ranks.m, ranks.r_mid))) AS est,
                   (SELECT v FROM re, nn WHERE rn =
                        greatest(1, CAST(ceil(0.5 * nn.n) AS BIGINT)))
                       AS exact,
                   (SELECT v FROM rs WHERE rn =
                        greatest(1, least(ranks.m, ranks.r_lo))) AS ci_lo,
                   (SELECT v FROM rs WHERE rn =
                        greatest(1, least(ranks.m, ranks.r_hi))) AS ci_hi
            FROM ranks
        )
        SELECT n_sampled, est, exact,
               floor(abs(est - exact) * 100.0 * 10000.0 / exact + 0.5)
                   / 10000.0 AS rel_err_pct,
               ci_lo, ci_hi
        FROM picks
    """

    # q_lineitem_aqp_quantile_sample: the production (sample-only)
    # form — same sample CTE, pinned rank rule, and binomial bound
    # arithmetic, with the exact-envelope legs dropped.
    sql["q_lineitem_aqp_quantile_sample"] = """
        WITH s AS (
            SELECT l_extendedprice AS v
            FROM lineitem
            WHERE l_extendedprice IS NOT NULL
              AND CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)
                       || '-' || CAST(l_linenumber AS VARCHAR)), 1, 12)
                       AS BIGINT) % 100 = 0
        ),
        m AS (SELECT count(*) AS m FROM s),
        ranks AS (
            SELECT m,
                   greatest(1, CAST(ceil(0.5 * m) AS BIGINT)) AS r_mid,
                   greatest(1, CAST(ceil(0.5 * m
                       - 1.96 * sqrt(m * 0.5 * (1.0 - 0.5)))
                       AS BIGINT)) AS r_lo,
                   least(m, CAST(ceil(0.5 * m
                       + 1.96 * sqrt(m * 0.5 * (1.0 - 0.5)))
                       AS BIGINT)) AS r_hi
            FROM m
        ),
        rs AS (
            SELECT v, row_number() OVER (ORDER BY v) AS rn FROM s
        )
        SELECT ranks.m AS n_sampled,
               (SELECT v FROM rs WHERE rn =
                    greatest(1, least(ranks.m, ranks.r_mid))) AS est,
               (SELECT v FROM rs WHERE rn =
                    greatest(1, least(ranks.m, ranks.r_lo))) AS ci_lo,
               (SELECT v FROM rs WHERE rn =
                    greatest(1, least(ranks.m, ranks.r_hi))) AS ci_hi
        FROM ranks
    """

    # q_events_equidepth_hist: boundaries are exact i/8 order
    # statistics (the pinned rank rule over row_number), bucket
    # membership is 1 + #(v > boundary) — ties land low on both
    # engines; empty buckets emitted via the generated spec.
    _HIST_CTE = """
        w AS (SELECT value AS v FROM events WHERE value IS NOT NULL),
        n AS (SELECT count(*) AS n, min(v) AS mn, max(v) AS mx FROM w),
        r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM w),
        b AS (
            SELECT t.i AS i, r.v AS bv
            FROM generate_series(1, 7) AS t(i)
            CROSS JOIN n
            JOIN r ON r.rn = greatest(1,
                CAST(ceil((CAST(t.i AS DOUBLE) / 8) * n.n) AS BIGINT))
        ),
        vc AS (SELECT v, count(*) AS c FROM w GROUP BY v),
        assigned AS (
            SELECT vc.v, vc.c,
                   1 + sum(CASE WHEN vc.v > b.bv THEN 1 ELSE 0 END)
                       AS bucket
            FROM vc CROSS JOIN b GROUP BY vc.v, vc.c
        ),
        counts AS (
            SELECT bucket, CAST(sum(c) AS BIGINT) AS n_rows
            FROM assigned GROUP BY bucket
        ),
        spec AS (
            SELECT k.bucket AS bucket,
                   CASE WHEN k.bucket = 1 THEN n.mn
                        ELSE (SELECT bv FROM b WHERE i = k.bucket - 1)
                   END AS lo,
                   CASE WHEN k.bucket = 8 THEN n.mx
                        ELSE (SELECT bv FROM b WHERE i = k.bucket)
                   END AS hi
            FROM generate_series(1, 8) AS k(bucket) CROSS JOIN n
            WHERE n.n > 0
        ),
        hist AS (
            SELECT CAST(spec.bucket AS INT) AS bucket, spec.lo, spec.hi,
                   coalesce(counts.n_rows, 0) AS n_rows
            FROM spec LEFT JOIN counts ON counts.bucket = spec.bucket
        )
    """
    sql["q_events_equidepth_hist"] = f"""
        WITH {_HIST_CTE}
        SELECT bucket, lo, hi, n_rows FROM hist ORDER BY bucket
    """

    # q_events_hist_selectivity: the 8-term interpolation fold is an
    # EXPLICIT left-associated chain (not a SQL aggregate, whose
    # summation tree could reassociate) so the estimate is the same
    # double the Spark driver's left-to-right loop produces.
    _HIST_TERM = """
            coalesce((SELECT CASE
                WHEN hi < 20.0 OR lo > 100.0 OR n_rows = 0 THEN 0.0
                WHEN lo = hi THEN CAST(n_rows AS DOUBLE)
                ELSE CAST(n_rows AS DOUBLE) * least(1.0, greatest(0.0,
                     (least(100.0, hi) - greatest(20.0, lo)) / (hi - lo)))
                END FROM hist WHERE bucket = {i}), 0.0)
    """
    _HIST_FOLD = "0.0"
    for _i in range(1, 9):
        _HIST_FOLD = f"({_HIST_FOLD} + {_HIST_TERM.format(i=_i)})"
    sql["q_events_hist_selectivity"] = f"""
        WITH {_HIST_CTE},
        est AS (SELECT {_HIST_FOLD} AS est),
        ex AS (
            SELECT count(*) AS exact_rows FROM w
            WHERE v >= 20.0 AND v <= 100.0
        )
        SELECT CAST(20.0 AS DOUBLE) AS range_lo,
               CAST(100.0 AS DOUBLE) AS range_hi,
               CAST(floor(est + 0.5) AS BIGINT) AS est_rows,
               exact_rows,
               CASE WHEN exact_rows = 0 THEN 0.0
                    ELSE floor(abs(CAST(floor(est + 0.5) AS BIGINT)
                         - exact_rows) * 100.0 * 100.0 / exact_rows
                         + 0.5) / 100.0
               END AS err_pct
        FROM est, ex
    """

    # q_events_interval_join: the oracle states the semantics as the
    # plain inequality join the bucketized equi-join decomposes.
    sql["q_events_interval_join"] = """
        WITH base AS (
            SELECT event_id, user_id, event_type, value,
                   epoch_us(ts) AS p_us
            FROM events
        ),
        anchors AS (
            SELECT event_id AS anchor_id, user_id,
                   p_us AS start_us, p_us + 1800000000 AS end_us
            FROM base WHERE event_type = 'error'
        ),
        m AS (
            SELECT a.anchor_id, p.event_type AS p_type,
                   p.value AS p_value
            FROM anchors a
            JOIN base p ON p.user_id = a.user_id
                AND p.p_us >= a.start_us AND p.p_us <= a.end_us
                AND p.event_id <> a.anchor_id
        ),
        agg AS (
            SELECT anchor_id, count(*) AS n_events,
                   count(DISTINCT p_type) AS n_types,
                   round(sum(p_value), 2) AS sum_value
            FROM m GROUP BY anchor_id
        )
        SELECT a.anchor_id,
               coalesce(g.n_events, 0) AS n_events,
               coalesce(g.n_types, 0) AS n_types,
               coalesce(g.sum_value, 0.0) AS sum_value
        FROM anchors a LEFT JOIN agg g ON g.anchor_id = a.anchor_id
        ORDER BY a.anchor_id
    """

    # q_part_itemsim: cosine is one IEEE sqrt+divide of exact integer
    # counts; ranking tie-breaks on neighbor id on both engines.
    sql["q_part_itemsim"] = """
        WITH bi AS (
            SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        ),
        n AS (SELECT p, count(*) AS n_orders FROM bi GROUP BY p),
        co AS (
            SELECT a.p AS a, b.p AS b, count(*) AS co_count
            FROM bi a JOIN bi b ON a.o = b.o AND a.p < b.p
            GROUP BY a.p, b.p HAVING count(*) >= 2
        ),
        sym AS (
            SELECT a, b, co_count FROM co
            UNION ALL SELECT b, a, co_count FROM co
        ),
        scored AS (
            SELECT s.a AS item, s.b AS neighbor,
                   CAST(s.co_count AS BIGINT) AS co_count,
                   s.co_count / sqrt(CAST(na.n_orders AS DOUBLE)
                                     * nb.n_orders) AS cos_sim
            FROM sym s
            JOIN n na ON na.p = s.a
            JOIN n nb ON nb.p = s.b
        )
        SELECT item, neighbor, co_count, cos_sim, CAST(rn AS INT) AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY item ORDER BY cos_sim DESC, neighbor
            ) AS rn FROM scored
        )
        WHERE rn <= 5
        ORDER BY item, rank
    """

    # q_part_communities: 4 unrolled synchronous LPA rounds over the
    # same >=2-shared-orders co-purchase adjacency as the coreness
    # oracle; the (count desc, label asc) argmax is deterministic on
    # both engines, so the fixed unroll yields the identical labels.
    _LPA_ROUND = """
        {nxt} AS MATERIALIZED (
            SELECT v, label FROM (
                SELECT u AS v, label, row_number() OVER (
                    PARTITION BY u ORDER BY c DESC, label
                ) AS rn
                FROM (
                    SELECT s.u, l.label, count(*) AS c
                    FROM sym s JOIN {prev} l ON l.v = s.v
                    GROUP BY s.u, l.label
                )
            ) WHERE rn = 1
        )
    """
    _LPA_ROUNDS_SQL = ",\n".join(
        _LPA_ROUND.format(nxt=f"l{i + 1}", prev=f"l{i}")
        for i in range(4)
    )
    sql["q_part_communities"] = f"""
        WITH bi AS MATERIALIZED (
            SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        ),
        e AS MATERIALIZED (
            SELECT a.p AS a, b.p AS b
            FROM bi a JOIN bi b ON a.o = b.o AND a.p < b.p
            GROUP BY a.p, b.p HAVING count(*) >= 2
        ),
        sym AS MATERIALIZED (
            SELECT a AS u, b AS v FROM e
            UNION ALL SELECT b, a FROM e
        ),
        l0 AS MATERIALIZED (SELECT DISTINCT u AS v, u AS label FROM sym),
        {_LPA_ROUNDS_SQL}
        SELECT label AS community, CAST(count(*) AS BIGINT) AS size,
               min(v) AS first_member
        FROM l4 GROUP BY label HAVING count(*) >= 2
        ORDER BY size DESC, community
    """

    # q_events_winsorized_stats: clip bounds are exact per-group order
    # statistics (pinned rank rule); the winsorized mean follows the
    # stable_avg discipline (2-dp inner sum of 2-dp clipped values).
    sql["q_events_winsorized_stats"] = f"""
        WITH w AS (
            SELECT event_type AS g, value AS v FROM events
            WHERE value IS NOT NULL AND event_type IS NOT NULL
        ),
        gn AS (SELECT g, count(*) AS n FROM w GROUP BY g),
        r AS (
            SELECT g, v,
                   row_number() OVER (PARTITION BY g ORDER BY v) AS rn
            FROM w
        ),
        qlo AS (
            SELECT r.g, r.v AS qlo
            FROM r JOIN gn ON gn.g = r.g
            WHERE r.rn = greatest(1,
                CAST(ceil(CAST(0.05 AS DOUBLE) * gn.n) AS BIGINT))
        ),
        qhi AS (
            SELECT r.g, r.v AS qhi
            FROM r JOIN gn ON gn.g = r.g
            WHERE r.rn = greatest(1,
                CAST(ceil(CAST(0.95 AS DOUBLE) * gn.n) AS BIGINT))
        ),
        clip AS (
            SELECT w.g, w.v, qlo.qlo, qhi.qhi,
                   least(greatest(w.v, qlo.qlo), qhi.qhi) AS wv
            FROM w
            JOIN qlo ON qlo.g = w.g
            JOIN qhi ON qhi.g = w.g
        )
        SELECT g AS event_type,
               count(*) AS n_events,
               CAST(sum(CASE WHEN v < qlo THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_lo_clipped,
               CAST(sum(CASE WHEN v > qhi THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_hi_clipped,
               min(qlo) AS p_lo_value,
               max(qhi) AS p_hi_value,
               {stable_avg_sql("wv", 4, 2)} AS win_mean
        FROM clip GROUP BY g ORDER BY event_type
    """

    # q_events_linear_trend: the six sufficient statistics are exact
    # bigint sums (x = pinned-epoch hour index, y = integer cents), so
    # the only floats are the final per-group expression — written with
    # the same tree shape as operators/trends.py::finish_regression.
    _REG_PTS = """
        pts AS (
            SELECT event_type AS k,
                   (epoch_us(ts) - 1704067200000000) // 3600000000 AS x,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
            FROM events
        )
    """
    sql["q_events_linear_trend"] = f"""
        WITH {_REG_PTS},
        s AS (
            SELECT k,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x * x) AS BIGINT) AS sxx,
                   CAST(sum(x * y) AS BIGINT) AS sxy,
                   CAST(sum(y * y) AS BIGINT) AS syy
            FROM pts GROUP BY k
        )
        SELECT k AS event_type,
               n AS n_rows,
               round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     / 100, 6) AS slope_per_hour,
               round((CAST(sy AS DOUBLE)
                      - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * CAST(sx AS DOUBLE))
                     / CAST(n AS DOUBLE) / 100, 6) AS intercept,
               CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                         AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
                    THEN round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                               * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                               / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                                  * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                     - CAST(sy AS DOUBLE)
                                       * CAST(sy AS DOUBLE))), 6)
               END AS r2
        FROM s ORDER BY event_type
    """

    # q_events_autocorr / q_events_cusum_changepoint: both run on the
    # dense hourly count series (missing hours filled with 0 over
    # [0, max_h]); counts are exact ints, so the Pearson fold is one
    # double expression and the CUSUM walk is a left-to-right window
    # sum — both bit-identical across engines.
    _HOURLY = """
        hrs AS (
            SELECT (epoch_us(ts) - 1704067200000000) // 3600000000 AS h
            FROM events
        ),
        cnt AS (SELECT h, CAST(count(*) AS BIGINT) AS c FROM hrs GROUP BY h),
        grid AS (
            SELECT g.h FROM (
                SELECT unnest(generate_series(
                    0, (SELECT max(h) FROM cnt))) AS h
            ) g
        ),
        series AS (
            SELECT grid.h, coalesce(cnt.c, 0) AS c
            FROM grid LEFT JOIN cnt ON cnt.h = grid.h
        )
    """
    sql["q_events_autocorr"] = f"""
        WITH {_HOURLY},
        lags AS (
            SELECT unnest(generate_series(1, 24)) AS lag
        ),
        pairs AS (
            SELECT lags.lag, a.c AS ca, b.c AS cb
            FROM series a
            CROSS JOIN lags
            JOIN series b ON b.h = a.h + lags.lag
        ),
        s AS (
            SELECT lag,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(ca) AS BIGINT) AS sa,
                   CAST(sum(cb) AS BIGINT) AS sb,
                   CAST(sum(ca * ca) AS BIGINT) AS saa,
                   CAST(sum(ca * cb) AS BIGINT) AS sab,
                   CAST(sum(cb * cb) AS BIGINT) AS sbb
            FROM pairs GROUP BY lag
        )
        SELECT lag, n AS n_pairs,
               CASE WHEN (CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                          - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) > 0
                         AND (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                              - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) > 0
                    THEN round((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
                                - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                               / sqrt((CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                                       - CAST(sa AS DOUBLE)
                                         * CAST(sa AS DOUBLE))
                                      * (CAST(n AS DOUBLE)
                                         * CAST(sbb AS DOUBLE)
                                         - CAST(sb AS DOUBLE)
                                           * CAST(sb AS DOUBLE))), 6)
               END AS acf
        FROM s ORDER BY lag
    """

    _HOURLY_K = """
        hrs AS (
            SELECT event_type AS k,
                   (epoch_us(ts) - 1704067200000000) // 3600000000 AS h
            FROM events
        ),
        cnt AS (
            SELECT k, h, CAST(count(*) AS BIGINT) AS c
            FROM hrs GROUP BY k, h
        ),
        grid AS (
            SELECT keys.k, g.h
            FROM (SELECT DISTINCT k FROM cnt) keys
            CROSS JOIN (
                SELECT unnest(generate_series(
                    0, (SELECT max(h) FROM cnt))) AS h
            ) g
        ),
        series AS (
            SELECT grid.k, grid.h, coalesce(cnt.c, 0) AS c
            FROM grid LEFT JOIN cnt ON cnt.k = grid.k AND cnt.h = grid.h
        )
    """
    sql["q_events_cusum_changepoint"] = f"""
        WITH {_HOURLY_K},
        stats AS (
            SELECT k, CAST(sum(c) AS BIGINT) AS tot,
                   CAST(count(*) AS BIGINT) AS n_hours
            FROM series GROUP BY k
        ),
        walk AS (
            SELECT series.k, series.h, stats.n_hours,
                   CAST(stats.tot AS DOUBLE) AS totd,
                   sum(CAST(series.c AS DOUBLE)
                       - CAST(stats.tot AS DOUBLE)
                         / CAST(stats.n_hours AS DOUBLE))
                       OVER (PARTITION BY series.k ORDER BY series.h
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS s
            FROM series JOIN stats ON stats.k = series.k
        ),
        pick AS (
            SELECT k, h, s, totd, n_hours,
                   row_number() OVER (PARTITION BY k
                                      ORDER BY abs(s) DESC, h ASC) AS rn
            FROM walk
        )
        SELECT k AS event_type, h AS cp_hour,
               round(s, 4) AS cusum_peak,
               round(totd / CAST(n_hours AS DOUBLE), 6) AS mean_per_hour,
               n_hours
        FROM pick WHERE rn = 1 ORDER BY event_type
    """

    # q_events_mad_outliers: median/MAD robust screen — both medians
    # are exact order statistics (same pinned rank rule), so m, MAD,
    # and the 3xMAD threshold are identical doubles on both engines.
    sql["q_events_mad_outliers"] = """
        WITH w AS (
            SELECT event_type, value AS v FROM events
            WHERE value IS NOT NULL AND event_type IS NOT NULL
        ),
        n AS (SELECT count(*) AS n FROM w),
        r1 AS (SELECT v, row_number() OVER (ORDER BY v) AS r FROM w),
        med AS (
            SELECT v AS m FROM r1, n
            WHERE r = greatest(1, CAST(ceil(CAST(0.5 AS DOUBLE) * n)
                                       AS BIGINT))
        ),
        r2 AS (
            SELECT abs(v - m) AS dv,
                   row_number() OVER (ORDER BY abs(v - m)) AS r
            FROM w, med
        ),
        mad AS (
            SELECT dv AS mad FROM r2, n
            WHERE r = greatest(1, CAST(ceil(CAST(0.5 AS DOUBLE) * n)
                                       AS BIGINT))
        ),
        fl AS (
            SELECT event_type,
                   CASE WHEN abs(v - m) > 3.0 * mad THEN 1 ELSE 0 END
                       AS is_out
            FROM w, med, mad
        )
        SELECT event_type, count(*) AS n_events,
               CAST(sum(is_out) AS BIGINT) AS n_outliers,
               floor(sum(is_out) * 1000000.0 / count(*) + 0.5) / 1000000
                   AS outlier_rate
        FROM fl GROUP BY event_type ORDER BY event_type
    """

    # q_events_latency_by_type: grouped fixed-grid quantiles — bounds,
    # widths, binning, and interpolation all SQL-side per key, zero-span
    # groups pinned to mn.
    _ghq = []
    for _q in (0.5, 0.9, 0.99):
        _ghq.append(
            f"""
        SELECT key, CAST({_q} AS DOUBLE) AS quantile,
               CASE WHEN w > 0
                    THEN round(mn + bin * w
                               + (CAST({_q} AS DOUBLE) * n - (cum - c))
                                 / c * w, 6)
                    ELSE round(mn, 6) END AS estimate
        FROM (
            SELECT cum.key, cum.bin, cum.c, cum.cum,
                   st.mn, st.w, st.n,
                   row_number() OVER (
                       PARTITION BY cum.key ORDER BY cum.bin) AS rn
            FROM cum JOIN st USING (key)
            WHERE cum.cum >= CAST({_q} AS DOUBLE) * st.n
        ) WHERE rn = 1"""
        )
    sql["q_events_latency_by_type"] = (
        """
        WITH clean AS (
            SELECT event_type AS key, value AS v
            FROM events WHERE value IS NOT NULL
        ),
        st AS (
            SELECT key, min(v) AS mn, max(v) AS mx,
                   count(*) AS n, (max(v) - min(v)) / 256.0 AS w
            FROM clean GROUP BY key
        ),
        binned AS (
            SELECT c.key,
                   CASE WHEN st.w > 0
                        THEN least(CAST(floor((c.v - st.mn) / st.w)
                                   AS BIGINT), 255)
                        ELSE 0 END AS bin
            FROM clean c JOIN st USING (key)
        ),
        bins AS (SELECT key, bin, count(*) AS c FROM binned GROUP BY 1, 2),
        cum AS (
            SELECT key, bin, c,
                   CAST(sum(c) OVER (PARTITION BY key ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM bins
        )"""
        + " UNION ALL ".join(_ghq)
        + " ORDER BY key, quantile"
    )

    # q_doc_gopher_gate: the repetition oracle reused verbatim; the
    # per-row length/stopword stats recomputed list-side; every rule is
    # integer arithmetic (thresholds interpolated from the SAME Python
    # constants the Spark gate uses).
    from bigdataminingproject_spark.operators.quality import (
        GOPHER_MAX_MEAN_LEN,
        GOPHER_MAX_TOKENS,
        GOPHER_MAX_TOP_BI_BP,
        GOPHER_MAX_TOP_UNI_BP,
        GOPHER_MIN_DISTINCT_BP,
        GOPHER_MIN_MEAN_LEN,
        GOPHER_MIN_STOPWORDS,
        GOPHER_MIN_TOKENS,
    )

    sql["q_doc_gopher_gate"] = (
        "WITH rep AS ("
        + sql["q_doc_repetition"]
        + f"""),
        rowstats AS (
            SELECT doc_id,
                   CAST(coalesce(list_sum(list_transform(
                       list_filter(
                           string_split_regex(lower(text), '[^\\p{{L}}]+'),
                           x -> x <> ''),
                       x -> strlen(x))), 0) AS BIGINT)
                       AS sum_token_chars,
                   CAST(len(list_filter(
                       list_filter(
                           string_split_regex(lower(text), '[^\\p{{L}}]+'),
                           x -> x <> ''),
                       x -> x IN ({_STOP_ONLY_LIST}))) AS BIGINT)
                       AS n_stopword_hits
            FROM documents
        )
        SELECT r.doc_id, r.n_tokens, s.sum_token_chars, r.distinct_bp,
               r.top_unigram_bp, r.top_bigram_bp, s.n_stopword_hits,
               (r.n_tokens >= {GOPHER_MIN_TOKENS}
                AND r.n_tokens <= {GOPHER_MAX_TOKENS}
                AND s.sum_token_chars >= {GOPHER_MIN_MEAN_LEN} * r.n_tokens
                AND s.sum_token_chars <= {GOPHER_MAX_MEAN_LEN} * r.n_tokens
                AND r.distinct_bp >= {GOPHER_MIN_DISTINCT_BP}
                AND r.top_unigram_bp <= {GOPHER_MAX_TOP_UNI_BP}
                AND r.top_bigram_bp <= {GOPHER_MAX_TOP_BI_BP}
                AND s.n_stopword_hits >= {GOPHER_MIN_STOPWORDS}) AS keep
        FROM rep r JOIN rowstats s USING (doc_id)
        ORDER BY r.doc_id
    """
    )

    # q_doc_apply_mixture: the mixture-plan oracle reused verbatim;
    # per-doc copies = floor(rate/10000) + fractional md5-variate draw
    # (explicit floor — CAST(double AS BIGINT) rounds in DuckDB but
    # truncates in Spark).
    sql["q_doc_apply_mixture"] = (
        "WITH plan AS ("
        + sql["q_doc_mixture_plan"]
        + """)
        SELECT doc_id, source, n_copies FROM (
            SELECT d.doc_id, d.source,
                   CAST(floor(p.rate_bp / 10000.0) AS BIGINT)
                   + CASE WHEN floor(
                         CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)),
                                             1, 8) AS BIGINT)
                         / 4294967296.0 * 10000.0) < p.rate_bp % 10000
                     THEN 1 ELSE 0 END AS n_copies
            FROM documents d JOIN plan p USING (source)
        )
        WHERE n_copies > 0
        ORDER BY doc_id
    """
    )

    # q_corpus_diff: full-outer content-hash diff against the
    # deterministically mutated re-crawl (%17 removed, %10 changed,
    # %50 re-added under id+1e6).
    sql["q_corpus_diff"] = """
        WITH o AS (SELECT doc_id, md5(text) AS old_hash FROM documents),
        newv AS (
            SELECT doc_id,
                   md5(CASE WHEN doc_id % 10 = 0 THEN text || ' updated'
                            ELSE text END) AS new_hash
            FROM documents WHERE doc_id % 17 <> 0
            UNION ALL
            SELECT doc_id + 1000000 AS doc_id, md5(text) AS new_hash
            FROM documents WHERE doc_id % 50 = 0
        ),
        j AS (
            SELECT coalesce(o.doc_id, newv.doc_id) AS doc_id,
                   o.old_hash, newv.new_hash
            FROM o FULL OUTER JOIN newv ON o.doc_id = newv.doc_id
        )
        SELECT doc_id,
               CASE WHEN old_hash IS NULL THEN 'added'
                    WHEN new_hash IS NULL THEN 'removed'
                    ELSE 'changed' END AS status,
               old_hash, new_hash
        FROM j
        WHERE old_hash IS NULL OR new_hash IS NULL
              OR old_hash <> new_hash
        ORDER BY doc_id
    """

    # q_hard_negatives: the BM25 oracle reused verbatim as the bounded
    # lexical leg; cosine vs query vector 0 in index-order list math,
    # ascending-similarity rank over the 20-row relation.
    sql["q_hard_negatives"] = (
        "WITH lex AS ("
        + sql["q_doc_bm25_topk"]
        + f""")
        , ev AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
            FROM embeddings
        ),
        qv AS (SELECT vec FROM ev WHERE vec_id = {retrieval.HYBRID_QUERY_VEC}),
        scored AS (
            SELECT l.doc_id, l.bm25,
                   round(list_dot_product(e.vec, q.vec) /
                         (sqrt(list_dot_product(e.vec, e.vec)) *
                          sqrt(list_dot_product(q.vec, q.vec))),
                         6) AS cosine_sim
            FROM lex l
            JOIN ev e ON e.vec_id = l.doc_id
            CROSS JOIN qv q
            WHERE l.doc_id <> {retrieval.HYBRID_QUERY_VEC}
        )
        SELECT doc_id, bm25, cosine_sim,
               CAST(row_number() OVER (ORDER BY cosine_sim, doc_id)
                    AS INT) AS neg_rank
        FROM scored
        QUALIFY neg_rank <= 5
        ORDER BY neg_rank
    """
    )

    # q_events_funnel_latency: reuses the ordered-funnel oracle verbatim
    # as a CTE; per-transition counts + quantile_cont percentiles over
    # integer-microsecond latencies (same (n-1)p interpolation as
    # Spark's percentile), stable half-up conversion rates.
    _fl_segs = []
    for _i, (_sa, _sb) in enumerate(
        [("signup", "click"), ("click", "purchase")]
    ):
        _a, _b = f"stage_{_i + 1}_us", f"stage_{_i + 2}_us"
        _lat = f"({_b} - {_a}) / 1000000.0"
        _fl_segs.append(
            f"""
        SELECT '{_sa}->{_sb}' AS transition,
               count({_a}) AS n_reached,
               count({_b}) AS n_converted,
               CASE WHEN count({_a}) > 0
                    THEN floor(count({_b}) * 10000.0 / count({_a}) + 0.5)
                         / 10000 END AS conv_rate,
               round(quantile_cont({_lat}, 0.5), 4) AS p50_latency_s,
               round(quantile_cont({_lat}, 0.9), 4) AS p90_latency_s
        FROM f WHERE {_a} IS NOT NULL"""
        )
    sql["q_events_funnel_latency"] = (
        "WITH f AS ("
        + sql["q_events_funnel"]
        + ")"
        + " UNION ALL ".join(_fl_segs)
        + " ORDER BY transition"
    )

    # q_corpus_curation_v4: compose the v3 full-gate oracle with the
    # semantic-dedup drop list and the span-rewrite accounting — the
    # inner oracles are reused VERBATIM except for the train-split
    # source filter (single-FROM replacement, mirroring the Spark
    # wrapper's %25 split).
    sql["q_corpus_curation_v4"] = (
        "WITH v3 AS ("
        + sql["q_corpus_curation_v3"]
        + "), sem AS ("
        + sql["q_semantic_dedup"].replace(
            "FROM embeddings",
            "FROM embeddings WHERE vec_id % 25 <> 0",
        )
        + "), spn AS ("
        + sql["q_doc_span_dedup"].replace(
            "FROM documents",
            "FROM documents WHERE doc_id % 25 <> 0",
        )
        + """)
        SELECT v3.doc_id, v3.source, v3.n_tokens, v3.nll,
               v3.n_email, v3.n_phone, v3.n_ip, v3.redacted_md5,
               spn.kept_spans, spn.removed_spans, spn.clean_hash
        FROM v3
        LEFT JOIN spn ON spn.doc_id = v3.doc_id
        WHERE v3.doc_id NOT IN (SELECT dup_id FROM sem)
        ORDER BY v3.doc_id
    """
    )

    # q_stream_curation_v4_maintenance: identical output contract — the
    # k-upsert incremental maintenance must land exactly on the batch
    # v4 rerun (the single-merge theorem applied stage-by-stage; see
    # plans/curation.py's incremental section).
    sql["q_stream_curation_v4_maintenance"] = sql["q_corpus_curation_v4"]

    # q_embedding_covariance: independent per-vector self-join
    # formulation (the Spark side merges per-batch gram partials);
    # identical covariance arithmetic, float32 widened before products,
    # 6dp rounding absorbs summation-order ulps.
    # q_embedding_top_pc: the 6 power iterations unrolled as CTE
    # stages — per-iteration quantization keeps both engines on
    # identical doubles (operators/spectral.py docstring); the SQL is
    # generated by the same module so the arithmetic cannot drift.
    sql["q_embedding_top_pc"] = spectral.power_iteration_oracle_sql()

    sql["q_embedding_covariance"] = """
        WITH ev AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
        ),
        nt AS (SELECT count(*) AS n FROM ev),
        a AS (
            SELECT vec_id, unnest(v) AS x,
                   unnest(range(0, len(v))) AS i
            FROM ev
        ),
        sums AS (SELECT i, sum(x) AS s FROM a GROUP BY i),
        g AS (
            SELECT ai.i AS i, aj.i AS j, sum(ai.x * aj.x) AS g
            FROM a ai JOIN a aj ON ai.vec_id = aj.vec_id
            GROUP BY ai.i, aj.i
        )
        SELECT g.i, g.j,
               round((g.g - si.s * sj.s / nt.n) / nt.n, 6) + 0 AS cov
        FROM g
        JOIN sums si ON si.i = g.i
        JOIN sums sj ON sj.i = g.j
        CROSS JOIN nt
        ORDER BY g.i, g.j
    """

    # q_events_session_paths: the sessionize derivation reused (same
    # lag/gap/running-sum), then in-session rank -> first-5 path string
    # -> path counts; string_agg skips the NULLed-out rows past the
    # cut, mirroring collect_list.
    sql["q_events_session_paths"] = """
        WITH marked AS (
            SELECT user_id, event_type, ts, event_id,
                   epoch_ms(ts) AS ts_ms,
                   CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                             OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w
                                > 1800000
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), numbered AS (
            SELECT user_id, event_type, ts, event_id,
                   CAST(sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS session_seq
            FROM marked
        ), rk AS (
            SELECT user_id, session_seq, event_type,
                   row_number() OVER (
                       PARTITION BY user_id, session_seq
                       ORDER BY ts, event_id) AS rk
            FROM numbered
        ), p AS (
            SELECT user_id, session_seq,
                   string_agg(CASE WHEN rk <= 5 THEN event_type END,
                              '>' ORDER BY rk) AS path
            FROM rk GROUP BY user_id, session_seq
        )
        SELECT path, count(*) AS n_sessions
        FROM p GROUP BY path
        ORDER BY n_sessions DESC, path
        LIMIT 20
    """

    # q_events_pit_state: the SCD2 oracle reused verbatim (FROM filter
    # swapped to the non-purchase stream, trailing ORDER BY kept — legal
    # inside a CTE) as the interval history; purchases left-join the
    # enclosing interval, aggregate per prior state.
    sql["q_events_pit_state"] = (
        "WITH hist AS ("
        + sql["q_events_scd2"].replace(
            "FROM events",
            "FROM events WHERE event_type <> 'purchase'",
        )
        + """),
        pur AS (
            SELECT user_id, epoch_us(ts) AS us, value
            FROM events WHERE event_type = 'purchase'
        ),
        j AS (
            SELECT p.user_id, p.value, h.state
            FROM pur p LEFT JOIN hist h
              ON h.user_id = p.user_id
             AND h.valid_from_us <= p.us
             AND (h.valid_to_us IS NULL OR p.us < h.valid_to_us)
        )
        SELECT coalesce(state, 'none') AS prior_state,
               count(*) AS n_purchases,
               count(DISTINCT user_id) AS n_users,
               round(sum(value), 2) AS total_value
        FROM j GROUP BY 1 ORDER BY 1
    """
    )

    # q_doc_association_rules: Apriori support cut before the pair
    # join on both engines — ceil(min_support*N), the true ">= floor"
    # semantics (ADVICE r4: int() truncation admitted sub-threshold
    # supports); confidence/lift are stable half-up 4dp quotients of
    # integer products; the confidence floor applies to the ROUNDED
    # value, mirroring the Spark filter.
    sql["q_doc_association_rules"] = f"""
        WITH {_TOKS_CTE},
        basket AS (
            SELECT DISTINCT doc_id, unnest(toks) AS item FROM tok_clean
        ),
        nt AS (SELECT count(DISTINCT doc_id) AS n FROM basket),
        isup AS (
            SELECT item, count(*) AS item_n FROM basket GROUP BY item
        ),
        freq AS (
            SELECT item, item_n FROM isup, nt
            WHERE item_n >= CAST(ceil(0.3 * n) AS BIGINT)
        ),
        fb AS (
            SELECT b.doc_id, b.item, f.item_n
            FROM basket b JOIN freq f ON b.item = f.item
        ),
        p AS (
            SELECT a.item AS item_a, b.item AS item_b,
                   a.item_n AS n_a, b.item_n AS n_b, count(*) AS pair_n
            FROM fb a JOIN fb b
              ON a.doc_id = b.doc_id AND a.item < b.item
            GROUP BY 1, 2, 3, 4
        ),
        pf AS (
            SELECT * FROM p, nt
            WHERE pair_n >= CAST(ceil(0.3 * n) AS BIGINT)
        ),
        r AS (
            SELECT item_a AS antecedent, item_b AS consequent, pair_n,
                   n_a AS n_ante, n_b AS n_cons, n FROM pf
            UNION ALL
            SELECT item_b, item_a, pair_n, n_b, n_a, n FROM pf
        )
        SELECT antecedent, consequent, pair_n AS pair_support,
               floor(pair_n * 10000.0 / n_ante + 0.5) / 10000.0
                   AS confidence,
               floor(pair_n * n * 10000.0 / (n_ante * n_cons) + 0.5)
                   / 10000.0 AS lift
        FROM r
        WHERE floor(pair_n * 10000.0 / n_ante + 0.5) / 10000.0 >= 0.5
        ORDER BY lift DESC, antecedent, consequent
    """

    # q_events_downsample: same fixed-anchor LTTB pipeline — bucket by
    # integer-scaled time, stable 6dp bucket means, 6dp half-up triangle
    # area as a negated metric, then the two-stage min-metric/min-id
    # argmax; output carries the exact integer microsecond offset.
    # Neighbor means LEFT-join with a coalesce fallback to the own-bucket
    # mean (ADVICE r5: empty equal-width neighbor buckets must not drop
    # the adjacent bucket's representative), mirroring the Spark plan.
    sql["q_events_downsample"] = f"""
        WITH mm AS (
            SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx
            FROM events
        ),
        pts AS (
            SELECT e.event_id,
                   epoch_us(e.ts) - m.mn AS t_us,
                   (epoch_us(e.ts) - m.mn) / 1000000.0 AS x,
                   CAST(e.value AS DOUBLE) AS value,
                   CAST(floor((epoch_us(e.ts) - m.mn) * 50.0
                              / (m.mx - m.mn + 1)) AS INT) AS bucket,
                   CAST(floor((m.mx - m.mn) * 50.0
                              / (m.mx - m.mn + 1)) AS INT) AS bmax
            FROM events e, mm m
        ),
        means AS (
            SELECT bucket,
                   {stable_avg_sql('x', 6)} AS xm,
                   {stable_avg_sql('value', 6)} AS ym
            FROM pts GROUP BY bucket
        ),
        scoredpts AS (
            SELECT p.bucket, p.event_id, p.t_us, p.value,
                   -(floor(abs((coalesce(a.xm, o.xm) - coalesce(c.xm, o.xm))
                                   * (p.value - coalesce(a.ym, o.ym))
                               - (coalesce(a.xm, o.xm) - p.x)
                                   * (coalesce(c.ym, o.ym)
                                      - coalesce(a.ym, o.ym)))
                           * 1000000.0 + 0.5) / 1000000.0) AS metric
            FROM pts p
            JOIN means o ON o.bucket = p.bucket
            LEFT JOIN means a ON a.bucket = p.bucket - 1
            LEFT JOIN means c ON c.bucket = p.bucket + 1
            WHERE p.bucket <> 0 AND p.bucket <> p.bmax
            UNION ALL
            SELECT bucket, event_id, t_us, value,
                   CASE WHEN bucket = 0 THEN x ELSE -x END AS metric
            FROM pts WHERE bucket = 0 OR bucket = bmax
        ),
        best AS (
            SELECT bucket, min(metric) AS m FROM scoredpts GROUP BY bucket
        ),
        wid AS (
            SELECT s.bucket, min(s.event_id) AS event_id
            FROM scoredpts s
            JOIN best b ON b.bucket = s.bucket AND s.metric = b.m
            GROUP BY s.bucket
        )
        SELECT s.bucket, s.event_id, s.t_us, s.value
        FROM scoredpts s
        JOIN wid w ON w.bucket = s.bucket AND w.event_id = s.event_id
        ORDER BY s.bucket
    """

    # q_customer_skyline: independent NOT EXISTS dominance formulation
    # (cross-checks the bucketed strict-suffix-max plan row for row);
    # money quantized to exact integer cents on both engines.
    # q_segment_rfm_skyline: independent NOT EXISTS dominance oracle in
    # 3 integer dimensions (days / count / cents), per segment.
    sql["q_segment_rfm_skyline"] = """
        WITH t AS (
            SELECT o_custkey AS custkey,
                   CAST(CAST(max(o_orderdate) AS DATE) - DATE '1970-01-01' AS INT)
                       AS recency_days,
                   count(*) AS frequency,
                   CAST(round(sum(o_totalprice) * 100, 0) AS BIGINT)
                       AS cents
            FROM orders GROUP BY o_custkey
        ), s AS (
            SELECT c.c_mktsegment, t.*
            FROM t JOIN customer c ON c.c_custkey = t.custkey
        )
        SELECT a.c_mktsegment, a.custkey,
               DATE '1970-01-01' + a.recency_days AS last_order,
               a.frequency, a.cents / 100.0 AS total_spent
        FROM s a
        WHERE NOT EXISTS (
            SELECT 1 FROM s b
            WHERE b.c_mktsegment = a.c_mktsegment
              AND b.recency_days >= a.recency_days
              AND b.frequency >= a.frequency
              AND b.cents >= a.cents
              AND (b.recency_days > a.recency_days
                   OR b.frequency > a.frequency
                   OR b.cents > a.cents)
        )
        ORDER BY a.c_mktsegment, total_spent DESC, a.custkey
    """

    sql["q_customer_skyline"] = """
        WITH t AS (
            SELECT o_custkey AS custkey,
                   CAST(round(sum(o_totalprice) * 100, 0) AS BIGINT)
                       AS cents,
                   count(*) AS order_count
            FROM orders GROUP BY o_custkey
        )
        SELECT a.custkey, a.cents / 100.0 AS total_spent, a.order_count
        FROM t a
        WHERE NOT EXISTS (
            SELECT 1 FROM t b
            WHERE b.cents >= a.cents AND b.order_count >= a.order_count
              AND (b.cents > a.cents OR b.order_count > a.order_count)
        )
        ORDER BY total_spent DESC, custkey
    """

    # q_segment_skyline: grouped dominance — the NOT EXISTS check adds
    # the segment-equality conjunct.
    sql["q_segment_skyline"] = """
        WITH t AS (
            SELECT o_custkey AS custkey,
                   CAST(round(sum(o_totalprice) * 100, 0) AS BIGINT)
                       AS cents,
                   count(*) AS order_count
            FROM orders GROUP BY o_custkey
        ),
        s AS (
            SELECT c_mktsegment, custkey, cents, order_count
            FROM t JOIN customer ON custkey = c_custkey
        )
        SELECT a.c_mktsegment, a.custkey, a.cents / 100.0 AS total_spent,
               a.order_count
        FROM s a
        WHERE NOT EXISTS (
            SELECT 1 FROM s b
            WHERE b.c_mktsegment = a.c_mktsegment
              AND b.cents >= a.cents AND b.order_count >= a.order_count
              AND (b.cents > a.cents OR b.order_count > a.order_count)
        )
        ORDER BY a.c_mktsegment, total_spent DESC, a.custkey
    """

    # q_events_transitions: lead() over the same (user, ts, event_id)
    # order; engine-stable half-up 4dp conditional probability.
    sql["q_events_transitions"] = """
        WITH s AS (
            SELECT event_type AS from_type,
                   lead(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS to_type
            FROM events
        ),
        p AS (
            SELECT from_type, to_type, count(*) AS n_transitions
            FROM s WHERE to_type IS NOT NULL
            GROUP BY from_type, to_type
        ),
        t AS (
            SELECT from_type, sum(n_transitions) AS tot
            FROM p GROUP BY from_type
        )
        SELECT p.from_type, p.to_type, p.n_transitions,
               floor(p.n_transitions * 10000.0 / t.tot + 0.5) / 10000.0
                   AS prob
        FROM p JOIN t ON p.from_type = t.from_type
        ORDER BY p.from_type, p.to_type
    """

    # q_table_integrity: one LEFT JOIN per FK edge against the
    # distinct-projected parent key set (null keys never match; orphan =
    # non-null key with no parent hit), mirroring plans/audit.py.
    _edges = []
    for _edge, _child, _ckey, _parent, _pkey in audit.STAR_SCHEMA_EDGES:
        _edges.append(
            f"""
        SELECT '{_edge}' AS edge,
               count(*) AS child_rows,
               count(*) FILTER (WHERE k IS NULL) AS null_keys,
               count(*) FILTER (WHERE k IS NOT NULL AND hit IS NULL)
                   AS orphan_rows,
               (count(*) FILTER (WHERE k IS NULL) = 0 AND
                count(*) FILTER (WHERE k IS NOT NULL AND hit IS NULL) = 0)
                   AS ok
        FROM (SELECT c.{_ckey} AS k, p.hit
              FROM {_child} c
              LEFT JOIN (SELECT DISTINCT {_pkey} AS pk, 1 AS hit
                         FROM {_parent}) p
                ON c.{_ckey} = p.pk)"""
        )
    sql["q_table_integrity"] = (
        " UNION ALL ".join(_edges) + " ORDER BY edge"
    )

    # q_doc_profile: per-column single-table profile; min/max aggregate
    # on the native type then cast to text, mean rendered length via the
    # engine-stable half-up division (mirrors plans/audit.py).
    _prof = []
    for _c in ["doc_id", "lang", "n_chars", "source", "text"]:
        _prof.append(
            f"""
        SELECT '{_c}' AS col_name,
               count(*) AS n_rows,
               count({_c}) AS n_nonnull,
               count(DISTINCT {_c}) AS n_distinct,
               CAST(min({_c}) AS VARCHAR) AS min_val,
               CAST(max({_c}) AS VARCHAR) AS max_val,
               floor(sum(len(CAST({_c} AS VARCHAR))) * 10000.0
                     / count({_c}) + 0.5) / 10000.0 AS avg_len
        FROM documents"""
        )
    sql["q_doc_profile"] = " UNION ALL ".join(_prof) + " ORDER BY col_name"

    # q_doc_inverted_index: (token, doc) tf relation -> per-token df/cf
    # + rank-ordered posting head; string_agg skips the NULLed-out rows
    # past the top-5 cut, mirroring collect_list's null-skipping.
    sql["q_doc_inverted_index"] = f"""
        WITH {_TOKS_CTE},
        tok AS (SELECT doc_id, unnest(toks) AS token FROM tok_clean),
        tf AS (
            SELECT token, doc_id, count(*) AS tf
            FROM tok GROUP BY token, doc_id
        ),
        rk AS (
            SELECT *, row_number() OVER (
                PARTITION BY token ORDER BY tf DESC, doc_id) AS rk
            FROM tf
        )
        SELECT token, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf,
               string_agg(CASE WHEN rk <= 5 THEN doc_id || ':' || tf END,
                          ',' ORDER BY rk) AS postings
        FROM rk
        GROUP BY token
        HAVING count(*) >= 2
        ORDER BY df DESC, token
    """

    # q_doc_inverted_index_incremental: snapshot+delta merge must land
    # exactly on the full rebuild — same oracle (k-head closure under
    # disjoint union makes the merged posting head exact).
    sql["q_doc_inverted_index_incremental"] = sql["q_doc_inverted_index"]
    # q_stream_index_maintenance: k micro-batch partial folds over the
    # merge-operator LSM store must land exactly on the full rebuild —
    # same oracle (k-head closure under disjoint union, recursively).
    sql["q_stream_index_maintenance"] = sql["q_doc_inverted_index"]
    # streaming ES-sample maintenance: k micro-batch folds must land
    # exactly on the batch weighted sample
    sql["q_stream_sample_maintenance"] = sql["q_doc_weighted_sample"]
    # streaming covariance maintenance: folded moment rows must land
    # exactly on the batch covariance output
    sql["q_stream_covariance_maintenance"] = sql["q_embedding_covariance"]

    # q_source_kmv_overlap (defined below) + its streaming twin: k
    # micro-batch bottom-k folds must land exactly on the batch sketch
    # (bottom-k closure under union) — same oracle.

    # q_source_kmv_overlap: KMV bottom-k sketch replayed exactly —
    # 48-bit md5 hashes, per-source bottom-256 of the distinct shingle
    # hashes, pairwise union-bottom-k with the Beyer et al. estimator in
    # the pinned op order (k-1) * (2^48 / h_k); small-set branch (n < k)
    # collapses to the exact count on both engines.
    sql["q_source_kmv_overlap"] = f"""
        WITH {_TOKS_CTE},
        tok_pos AS (
            SELECT source, doc_id,
                   unnest(raw_toks) AS tok,
                   unnest(range(1, len(raw_toks) + 1)) AS pos
            FROM tok_base
        ),
        sh AS (
            SELECT a.source,
                   a.tok || ' ' || b.tok || ' ' || c.tok AS sh
            FROM tok_pos a
            JOIN tok_pos b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
            JOIN tok_pos c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
        ),
        hashed AS (
            SELECT DISTINCT source,
                   CAST('0x' || substr(md5(sh), 1, 12) AS BIGINT) AS h
            FROM sh
        ),
        sk AS (
            SELECT source, h FROM (
                SELECT source, h,
                       row_number() OVER (
                           PARTITION BY source ORDER BY h) AS r
                FROM hashed)
            WHERE r <= 256
        ),
        own_est AS (
            SELECT source,
                   round(CASE WHEN count(*) < 256
                              THEN CAST(count(*) AS DOUBLE)
                              ELSE 255.0 * (281474976710656.0
                                            / CAST(max(h) AS DOUBLE))
                         END, 4) AS est
            FROM sk GROUP BY source
        ),
        pairs AS (
            SELECT a.source AS source_a, b.source AS source_b
            FROM (SELECT DISTINCT source FROM sk) a,
                 (SELECT DISTINCT source FROM sk) b
            WHERE a.source < b.source
        ),
        tagged AS (
            SELECT p.source_a, p.source_b, s.h,
                   max(CASE WHEN s.source = p.source_a THEN 1 ELSE 0 END)
                       AS in_a,
                   max(CASE WHEN s.source = p.source_b THEN 1 ELSE 0 END)
                       AS in_b
            FROM pairs p
            JOIN sk s ON s.source IN (p.source_a, p.source_b)
            GROUP BY p.source_a, p.source_b, s.h
        ),
        union_k AS (
            SELECT * FROM (
                SELECT source_a, source_b, h, in_a, in_b,
                       row_number() OVER (
                           PARTITION BY source_a, source_b
                           ORDER BY h) AS r
                FROM tagged)
            WHERE r <= 256
        ),
        per_pair AS (
            SELECT source_a, source_b,
                   count(*) AS k_in_union,
                   sum(in_a * in_b) AS shared_in_k,
                   max(h) AS kth
            FROM union_k GROUP BY source_a, source_b
        )
        SELECT p.source_a, p.source_b,
               CAST(k_in_union AS BIGINT) AS k_in_union,
               CAST(shared_in_k AS BIGINT) AS shared_in_k,
               round(CAST(shared_in_k AS DOUBLE)
                     / CAST(k_in_union AS DOUBLE), 6) AS jaccard_est,
               round(CASE WHEN k_in_union < 256
                          THEN CAST(k_in_union AS DOUBLE)
                          ELSE 255.0 * (281474976710656.0
                                        / CAST(kth AS DOUBLE))
                     END, 4) AS union_est,
               ea.est AS distinct_a_est,
               eb.est AS distinct_b_est
        FROM per_pair p
        JOIN own_est ea ON ea.source = p.source_a
        JOIN own_est eb ON eb.source = p.source_b
        ORDER BY p.source_a, p.source_b
    """
    sql["q_stream_kmv_maintenance"] = sql["q_source_kmv_overlap"]

    # round 8: the streaming continuous-aggregate twin publishes the
    # batch multi-grain rollup exactly ((count, sum) partials are
    # associative; 2 dp round at presentation on both sides)
    sql["q_stream_rollup_maintenance"] = sql["q_events_time_rollup"]

    # q_knn_pq: DuckDB replays the SAME grouped deterministic Lloyd
    # program as pq_train_encode — all M=8 (_pq_m) codebooks trained at once
    # with `sub` as one more key column (per-sub smallest-id init,
    # round(dist,6) argmin with cluster-id ties, round(sum,6)/count
    # centroid quantization) — then encodes the corpus and scores each
    # query by the pivoted per-subspace ADC table sum in subspace
    # order (matching Spark's left fold over pre-rounded entries).
    _pq_m, _pq_k, _pq_iters = 8, 16, 2
    _pq_sub = 64 // _pq_m
    _pq = [
        f"""
        v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
              FROM embeddings),
        sv AS (
            SELECT vec_id, sub,
                   list_transform(range(1, {_pq_sub + 1}),
                                  i -> vec[sub * {_pq_sub} + i]) AS svec
            FROM v, (SELECT unnest(range({_pq_m})) AS sub)
        ),
        c0 AS (
            SELECT sub,
                   row_number() OVER (
                       PARTITION BY sub ORDER BY vec_id) - 1 AS cluster,
                   svec AS carr
            FROM sv
            QUALIFY row_number() OVER (
                PARTITION BY sub ORDER BY vec_id) <= {_pq_k}
        )"""
    ]
    for _t in range(1, _pq_iters + 2):
        _prev = f"c{_t - 1}"
        _pq.append(
            f"""
        d{_t} AS (
            SELECT s.vec_id, s.sub, s.svec, c.cluster,
                   round(list_dot_product(t.dd, t.dd), 6) AS dist
            FROM sv s JOIN {_prev} c ON c.sub = s.sub,
                 LATERAL (SELECT list_transform(
                     list_zip(s.svec, c.carr), z -> z[1] - z[2]) AS dd) t
        ),
        a{_t} AS (
            SELECT vec_id, sub, svec, cluster
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY vec_id, sub
                      ORDER BY dist, cluster) AS rn
                  FROM d{_t})
            WHERE rn = 1
        )"""
        )
        if _t <= _pq_iters:
            _pq.append(
                f"""
        cd{_t} AS (
            SELECT sub, cluster, i AS dim,
                   round(sum(x), 6)/count(*) AS m
            FROM (SELECT sub, cluster,
                         generate_subscripts(svec, 1) AS i,
                         unnest(svec) AS x
                  FROM a{_t})
            GROUP BY sub, cluster, i
        ),
        c{_t} AS (
            SELECT sub, cluster, list(m ORDER BY dim) AS carr
            FROM cd{_t} GROUP BY sub, cluster
        )"""
            )
    _pq.append(
        f"""
        qv AS (SELECT vec_id AS qid, sub, svec FROM sv WHERE vec_id < 5),
        tbl AS (
            SELECT q.qid, c.sub, c.cluster,
                   round(list_dot_product(t.dd, t.dd), 6) AS e
            FROM qv q JOIN c{_pq_iters} c ON c.sub = q.sub,
                 LATERAL (SELECT list_transform(
                     list_zip(q.svec, c.carr), z -> z[1] - z[2]) AS dd) t
        ),
        sc AS (
            SELECT t.qid AS query_id, e.vec_id AS neighbor_id,
                   round({" + ".join(f"max(CASE WHEN e.sub = {m} THEN t.e END)" for m in range(_pq_m))}, 6)
                       AS pq_dist
            FROM a{_pq_iters + 1} e
            JOIN tbl t ON t.sub = e.sub AND t.cluster = e.cluster
            WHERE e.vec_id <> t.qid
            GROUP BY t.qid, e.vec_id
        )"""
    )
    _pq_chain = "WITH " + ",".join(_pq)
    sql["q_knn_pq"] = (
        _pq_chain
        + """
        SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, pq_dist
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY query_id
                  ORDER BY pq_dist, neighbor_id) AS rank
              FROM sc)
        WHERE rank <= 10
        ORDER BY query_id, rank
    """
    )
    # q_knn_pq_rerank: ADC top-200 candidate cut, then exact squared-L2
    # (index-order fold, round 6, neighbor-id ties) over candidates only
    sql["q_knn_pq_rerank"] = (
        _pq_chain
        + """,
        cand AS (
            SELECT query_id, neighbor_id FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY pq_dist, neighbor_id) AS rank
                FROM sc)
            -- count-aware pool: 10% scan fraction, floor 200 (matches
            -- pq_rerank_knn's max(200, ceil(n/10)))
            WHERE rank <= greatest(
                200,
                (SELECT CAST(ceil(count(*) / 10.0) AS BIGINT) FROM v))
        ),
        rr AS (
            SELECT c.query_id, c.neighbor_id,
                   round(list_dot_product(t.dd, t.dd), 6) AS l2_dist
            FROM cand c
            JOIN v nb ON nb.vec_id = c.neighbor_id
            JOIN v q ON q.vec_id = c.query_id,
                 LATERAL (SELECT list_transform(
                     list_zip(nb.vec, q.vec), z -> z[1] - z[2]) AS dd) t
        )
        SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, l2_dist
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY query_id
                  ORDER BY l2_dist, neighbor_id) AS rank
              FROM rr)
        WHERE rank <= 10
        ORDER BY query_id, rank
    """
    )

    # q_knn_default: the ROUTED default ANN entry point (VERDICT r7
    # #4). The oracle replays BOTH branches — exact brute-force
    # squared-L2 (the identical index-order fold + round-6 + id-tie
    # rules as the re-rank stage) and the count-aware PQ+re-rank chain
    # — and selects with the same integer count comparison as
    # pq.knn_default (n < 10000), so the routing decision itself is
    # oracle-checked. All driver SFs take the exact branch; the
    # 10x/100x local gates exercise the PQ branch.
    sql["q_knn_default"] = (
        _pq_chain
        + """,
        exact_rr AS (
            SELECT q.vec_id AS query_id, nb.vec_id AS neighbor_id,
                   round(list_dot_product(t.dd, t.dd), 6) AS l2_dist
            FROM v nb
            JOIN v q ON q.vec_id < 5 AND nb.vec_id <> q.vec_id,
                 LATERAL (SELECT list_transform(
                     list_zip(nb.vec, q.vec), z -> z[1] - z[2]) AS dd) t
        ),
        exact_top AS (
            SELECT query_id, CAST(rank AS INT) AS rank,
                   neighbor_id, l2_dist
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY query_id
                      ORDER BY l2_dist, neighbor_id) AS rank
                  FROM exact_rr)
            WHERE rank <= 10
        ),
        def_cand AS (
            SELECT query_id, neighbor_id FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY pq_dist, neighbor_id) AS rank
                FROM sc)
            WHERE rank <= greatest(
                200,
                (SELECT CAST(ceil(count(*) / 10.0) AS BIGINT) FROM v))
        ),
        def_rr AS (
            SELECT c.query_id, c.neighbor_id,
                   round(list_dot_product(t.dd, t.dd), 6) AS l2_dist
            FROM def_cand c
            JOIN v nb ON nb.vec_id = c.neighbor_id
            JOIN v q ON q.vec_id = c.query_id,
                 LATERAL (SELECT list_transform(
                     list_zip(nb.vec, q.vec), z -> z[1] - z[2]) AS dd) t
        ),
        pq_top AS (
            SELECT query_id, CAST(rank AS INT) AS rank,
                   neighbor_id, l2_dist
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY query_id
                      ORDER BY l2_dist, neighbor_id) AS rank
                  FROM def_rr)
            WHERE rank <= 10
        )
        SELECT * FROM exact_top
        WHERE (SELECT count(*) FROM v) < 10000
        UNION ALL
        SELECT * FROM pq_top
        WHERE (SELECT count(*) FROM v) >= 10000
        ORDER BY query_id, rank
    """
    )

    # q_knn_ivfpq: the composed index — the IVF oracle's count-derived
    # masked-plane cell arithmetic bounds the candidate set (Hamming<=1
    # probes), the PQ chain's encode + ADC tables price it; the scoring
    # join adds one cells/probes restriction to q_knn_pq's pivoted sum.
    sql["q_knn_ivfpq"] = (
        _pq_chain
        + f""",
        prm AS (
            SELECT CASE
                       WHEN ceil(log2(greatest(count(*), 2) / 32.0)) > 16
                       THEN CAST(error(
                           'q_knn_ivfpq oracle: derived cell planes '
                           '> 16 exceed the inlined plane budget '
                           '(corpus > ~2M vectors); grow the inline '
                           'count alongside SEM_CELL_MAX_PLANES'
                       ) AS INT)
                       ELSE CAST(greatest(6.0,
                           ceil(log2(greatest(count(*), 2) / 32.0)))
                           AS INT)
                   END AS p
            FROM embeddings
        ),
        ivf_cells AS (
            SELECT vec_id, ({_cell16_terms}) % (1 << prm.p) AS cell
            FROM v CROSS JOIN prm
        ),
        ivf_offs AS (
            SELECT unnest(list_prepend(0,
                       list_transform(range(0, p), i -> 1 << i))) AS off
            FROM prm
        ),
        ivf_probes AS (
            SELECT c.vec_id AS query_id, xor(c.cell, o.off) AS cell
            FROM ivf_cells c, ivf_offs o
            WHERE c.vec_id < 5
        ),
        ivfpq_scored AS (
            SELECT t.qid AS query_id, e.vec_id AS neighbor_id,
                   round({" + ".join(f"max(CASE WHEN e.sub = {m} THEN t.e END)" for m in range(_pq_m))}, 6)
                       AS pq_dist
            FROM a{_pq_iters + 1} e
            JOIN ivf_cells nc ON nc.vec_id = e.vec_id
            JOIN ivf_probes pr ON pr.cell = nc.cell
            JOIN tbl t ON t.sub = e.sub AND t.cluster = e.cluster
                      AND t.qid = pr.query_id
            WHERE e.vec_id <> pr.query_id
            GROUP BY t.qid, e.vec_id
        )
        SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, pq_dist
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY query_id
                  ORDER BY pq_dist, neighbor_id) AS rank
              FROM ivfpq_scored)
        WHERE rank <= 10
        ORDER BY query_id, rank
    """
    )

    # q_knn_ivfpq_rerank: the full three-cut pipeline. The probe
    # radius is COUNT-AWARE like every other auto-sized layout: the
    # smallest r whose Hamming ball covers >= 1/4 of the 2^p mask
    # space, derived here by the same integer arithmetic as
    # pq.ball_radius (4 * |ball| >= 2^p over the enumerated mask
    # list — p <= 16 caps the list at 65,536 ints). ADC shortlist is
    # pq_rerank's count-aware max(200, ceil(n/10)); the exact re-rank
    # replays the index-order squared-L2 fold on survivors only.
    sql["q_knn_ivfpq_rerank"] = (
        _pq_chain
        + f""",
        prm AS (
            SELECT CASE
                       WHEN ceil(log2(greatest(count(*), 2) / 32.0)) > 16
                       THEN CAST(error(
                           'q_knn_ivfpq_rerank oracle: derived cell '
                           'planes > 16 exceed the inlined plane '
                           'budget (corpus > ~2M vectors); grow the '
                           'inline count alongside SEM_CELL_MAX_PLANES'
                       ) AS INT)
                       ELSE CAST(greatest(6.0,
                           ceil(log2(greatest(count(*), 2) / 32.0)))
                           AS INT)
                   END AS p
            FROM embeddings
        ),
        rad AS MATERIALIZED (
            SELECT p,
                   list_min(list_filter(range(0, p + 1),
                       r -> 4 * len(list_filter(range(0, 1 << p),
                                m -> bit_count(m) <= r))
                            >= (1 << p))) AS r
            FROM prm
        ),
        ivf_cells AS MATERIALIZED (
            SELECT vec_id, ({_cell16_terms}) % (1 << prm.p) AS cell
            FROM v CROSS JOIN prm
        ),
        ivf_offs AS (
            SELECT unnest(list_filter(range(0, 1 << p),
                       m -> bit_count(m) <= r)) AS off
            FROM rad
        ),
        ivf_probes AS MATERIALIZED (
            SELECT c.vec_id AS query_id, xor(c.cell, o.off) AS cell
            FROM ivf_cells c, ivf_offs o
            WHERE c.vec_id < 5
        ),
        -- vec-level candidate cut BEFORE touching the 8x-wider codes
        -- relation, MATERIALIZED so the optimizer cannot flatten the
        -- downstream 4-way join into a probes x codes blow-up
        -- (observed: the un-hinted chain ate >100 GB on the 100x
        -- replica's oracle run; the 10x gate never saw it because the
        -- volume was 10x smaller — round-8 finding, SCALE.md)
        ivf_cand AS MATERIALIZED (
            SELECT pr.query_id, nc.vec_id AS neighbor_id
            FROM ivf_cells nc JOIN ivf_probes pr ON pr.cell = nc.cell
            WHERE nc.vec_id <> pr.query_id
        ),
        ivfpq_scored AS MATERIALIZED (
            SELECT c.query_id, e.vec_id AS neighbor_id,
                   round({" + ".join(f"max(CASE WHEN e.sub = {m} THEN t.e END)" for m in range(_pq_m))}, 6)
                       AS pq_dist
            FROM ivf_cand c
            JOIN a{_pq_iters + 1} e ON e.vec_id = c.neighbor_id
            JOIN tbl t ON t.sub = e.sub AND t.cluster = e.cluster
                      AND t.qid = c.query_id
            GROUP BY c.query_id, e.vec_id
        ),
        ivfpq_cand AS MATERIALIZED (
            SELECT query_id, neighbor_id FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY pq_dist, neighbor_id) AS rn
                FROM ivfpq_scored)
            WHERE rn <= greatest(
                200,
                (SELECT CAST(ceil(count(*) / 10.0) AS BIGINT) FROM v))
        ),
        ivfpq_rr AS (
            SELECT c.query_id, c.neighbor_id,
                   round(list_dot_product(t.dd, t.dd), 6) AS l2_dist
            FROM ivfpq_cand c
            JOIN v nb ON nb.vec_id = c.neighbor_id
            JOIN v q ON q.vec_id = c.query_id,
                 LATERAL (SELECT list_transform(
                     list_zip(nb.vec, q.vec), z -> z[1] - z[2]) AS dd) t
        )
        SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, l2_dist
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY query_id
                  ORDER BY l2_dist, neighbor_id) AS rank
              FROM ivfpq_rr)
        WHERE rank <= 10
        ORDER BY query_id, rank
    """
    )

    # q_events_decay_score: prefix-factorized exponential time-decay —
    # exact integer epoch-micros, one IEEE division to relative days,
    # cumulative exp-sum whose summation error rescales with the same
    # exp(-d) factor (6 dp round absorbs both engines' orders).
    sql["q_events_decay_score"] = """
        WITH e AS (
            SELECT user_id, event_id, epoch_us(ts) AS us FROM events
        ),
        r AS (
            SELECT user_id, event_id, us,
                   (us - min(us) OVER (PARTITION BY user_id))
                       / 86400000000.0 AS d
            FROM e
        ),
        c AS (
            SELECT user_id, d,
                   sum(exp(d)) OVER (
                       PARTITION BY user_id ORDER BY us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS cs,
                   row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY us DESC, event_id DESC) AS rn,
                   count(*) OVER (PARTITION BY user_id) AS n_events
            FROM r
        )
        SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
               round(exp(-d) * cs, 6) AS decay_score
        FROM c WHERE rn = 1
        ORDER BY user_id
    """
    # streaming decayed-counter maintenance: rebased partial folds must
    # land exactly on the batch decay score — same oracle
    sql["q_stream_decay_maintenance"] = sql["q_events_decay_score"]

    # streaming OLS maintenance: folded sufficient statistics are exact
    # integer sums, so publish lands on the batch trend's oracle
    sql["q_stream_regression_maintenance"] = sql["q_events_linear_trend"]

    # q_embedding_knn_outliers: exact kth-NN cosine distance, same
    # cosine/rank idioms as q_knn_bruteforce; top-20 cut pinned by
    # (score desc, vec_id asc).
    sql["q_embedding_knn_outliers"] = """
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
            FROM embeddings
        ),
        scored AS (
            SELECT a.vec_id AS id, b.vec_id AS nid,
                   round(list_dot_product(a.vec, b.vec) /
                         (sqrt(list_dot_product(a.vec, a.vec)) *
                          sqrt(list_dot_product(b.vec, b.vec))), 6) AS cos
            FROM v a JOIN v b ON a.vec_id <> b.vec_id
        ),
        kth AS (
            SELECT id, cos FROM (
                SELECT id, cos,
                       row_number() OVER (
                           PARTITION BY id ORDER BY cos DESC, nid
                       ) AS rn
                FROM scored
            ) WHERE rn = 10
        )
        SELECT id AS vec_id, cos AS knn_cos,
               round(1 - cos, 6) AS outlier_score
        FROM kth
        ORDER BY outlier_score DESC, vec_id
        LIMIT 20
    """

    # q_embedding_knn_outliers_ivf: the SCALE path (VERDICT r9 #2) —
    # DuckDB recomputes the deterministic IVF shortlist exactly like
    # the q_knn_ivf_det oracle (count-derived p, same inlined ±1
    # planes), but the probe radius follows the CANDIDATE-COUNT rule
    # (similarity.outlier_probe_radius: smallest ball expected to hold
    # >= 4·k candidates — same integer arithmetic), then ranks every
    # point's probed candidates and scores the min(k, #candidates)-th
    # — the same truncation rule as the Spark side, so the
    # approximation is pinned bit-for-bit.
    sql["q_embedding_knn_outliers_ivf"] = f"""
        WITH prm AS (
            SELECT CASE
                       WHEN ceil(log2(greatest(count(*), 2) / 32.0)) > 16
                       THEN CAST(error(
                           'q_embedding_knn_outliers_ivf oracle: derived '
                           'cell planes > 16 exceed the inlined plane '
                           'budget (corpus > ~2M vectors); grow the '
                           'inline count alongside SEM_CELL_MAX_PLANES'
                       ) AS INT)
                       ELSE CAST(greatest(6.0,
                           ceil(log2(greatest(count(*), 2) / 32.0)))
                           AS INT)
                   END AS p,
                   count(*) AS n
            FROM embeddings
        ),
        v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
        ),
        cells AS MATERIALIZED (
            SELECT vec_id, vec,
                   ({_cell16_terms}) % (1 << prm.p) AS cell
            FROM v CROSS JOIN prm
        ),
        masks AS (
            SELECT CAST(m AS INT) AS off, bit_count(CAST(m AS BIGINT)) AS pc
            FROM prm, range(0, 65536) t(m)
            WHERE m < (1 << prm.p)
        ),
        rad AS (
            -- coalesce: n < min_cand never satisfies the rule; the
            -- Python side then probes the full ball (radius = p)
            SELECT coalesce(min(pc), (SELECT p FROM prm)) AS r FROM (
                SELECT pc, SUM(COUNT(*)) OVER (ORDER BY pc) AS csum
                FROM masks GROUP BY pc
            ), prm
            WHERE csum * greatest(prm.n, 1) >= 40 * (1 << prm.p)
        ),
        offs AS (
            SELECT off FROM masks, rad WHERE masks.pc <= rad.r
        ),
        probes AS (
            SELECT c.vec_id AS query_id, c.vec AS q_vec,
                   xor(c.cell, o.off) AS cell
            FROM cells c, offs o
        ),
        scored AS (
            SELECT p.query_id, n.vec_id AS nid,
                   round(list_dot_product(p.q_vec, n.vec) /
                         (sqrt(list_dot_product(p.q_vec, p.q_vec)) *
                          sqrt(list_dot_product(n.vec, n.vec))), 6)
                       AS cos
            FROM probes p
            JOIN cells n ON n.cell = p.cell AND n.vec_id <> p.query_id
        ),
        kth AS (
            SELECT query_id, cos FROM (
                SELECT query_id, cos,
                       row_number() OVER (
                           PARTITION BY query_id ORDER BY cos DESC, nid
                       ) AS rn,
                       count(*) OVER (PARTITION BY query_id) AS cnt
                FROM scored
            ) WHERE rn = least(10, cnt)
        )
        SELECT query_id AS vec_id, cos AS knn_cos,
               round(1 - cos, 6) AS outlier_score
        FROM kth
        ORDER BY outlier_score DESC, vec_id
        LIMIT 20
    """

    # q_events_mi: exact contingency counts; ln() only in the final
    # per-cell/margin expression (NLL precedent), 6 dp both sides.
    sql["q_events_mi"] = """
        WITH cells AS (
            SELECT event_type AS x,
                   ((epoch_us(ts) - 1704067200000000) // 3600000000) % 24
                       AS y,
                   CAST(count(*) AS BIGINT) AS nxy
            FROM events
            WHERE event_type IS NOT NULL AND ts IS NOT NULL
            GROUP BY x, y
        ),
        mx AS (SELECT x, CAST(sum(nxy) AS BIGINT) AS nx
               FROM cells GROUP BY x),
        my AS (SELECT y, CAST(sum(nxy) AS BIGINT) AS ny
               FROM cells GROUP BY y),
        tot AS (SELECT CAST(sum(nxy) AS BIGINT) AS n FROM cells),
        hx AS (
            SELECT ln(CAST(n AS DOUBLE))
                   - sum(CAST(nx AS DOUBLE) * ln(CAST(nx AS DOUBLE)))
                     / CAST(n AS DOUBLE) AS h
            FROM mx, tot GROUP BY n
        ),
        hy AS (
            SELECT ln(CAST(n AS DOUBLE))
                   - sum(CAST(ny AS DOUBLE) * ln(CAST(ny AS DOUBLE)))
                     / CAST(n AS DOUBLE) AS h
            FROM my, tot GROUP BY n
        ),
        mi AS (
            SELECT sum((CAST(nxy AS DOUBLE) / CAST(n AS DOUBLE))
                       * ln(CAST(n AS DOUBLE) * CAST(nxy AS DOUBLE)
                            / (CAST(nx AS DOUBLE)
                               * CAST(ny AS DOUBLE)))) AS v
            FROM cells JOIN mx USING (x) JOIN my USING (y), tot
            GROUP BY n
        )
        SELECT tot.n AS n_rows,
               round(hx.h, 6) AS h_x,
               round(hy.h, 6) AS h_y,
               round(mi.v, 6) AS mi_nats,
               CASE WHEN hx.h * hy.h > 0
                    THEN round(mi.v / sqrt(hx.h * hy.h), 6)
               END AS nmi
        FROM tot, hx, hy, mi
    """

    # q_orders_fd_profile: one UNION ALL branch per candidate pair;
    # all metrics exact integer aggregates (g3 = N - sum of per-det
    # max pair counts).
    _fd_branch = """
        SELECT '{det}' AS determinant, '{dep}' AS dependent,
               CAST(sum(rows) AS BIGINT) AS n_rows,
               CAST(count(*) AS BIGINT) AS n_det,
               CAST(sum(combos) AS BIGINT) AS n_pairs,
               (sum(combos) = count(*)) AS holds,
               CAST(sum(rows) - sum(keep) AS BIGINT) AS g3_rows,
               round(CAST(sum(rows) - sum(keep) AS DOUBLE)
                     / CAST(sum(rows) AS DOUBLE), 6) AS g3_err
        FROM (
            SELECT d, max(c) AS keep, sum(c) AS rows,
                   count(*) AS combos
            FROM (
                SELECT {det} AS d, {dep} AS e, count(*) AS c
                FROM orders GROUP BY 1, 2
            ) GROUP BY d
        )
    """
    sql["q_orders_fd_profile"] = (
        " UNION ALL ".join(
            _fd_branch.format(det=det, dep=dep)
            for det, dep in profiling.ORDERS_FD_CANDIDATES
        )
        + " ORDER BY determinant, dependent"
    )

    # q_events_bootstrap_ci: the Poisson(1) weights come from the same
    # md5-derived 20-bit draw and integer CDF staircase on both
    # engines, so every replica's weighted sums are exact bigints and
    # the order-statistic bounds replay bit-for-bit.
    _boot_w = " + ".join(
        f"CASE WHEN u >= {t} THEN 1 ELSE 0 END"
        for t in aqp.BOOT_THRESHOLDS
    )
    sql["q_events_bootstrap_ci"] = f"""
        WITH reps AS (
            SELECT unnest(generate_series(1, {aqp.BOOT_REPLICAS})) AS r
        ),
        draws AS (
            SELECT event_type AS g, r,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS y,
                   CAST('0x' || substr(md5(
                        CAST(event_id AS VARCHAR) || ':'
                        || CAST(r AS VARCHAR)), 1, 12) AS BIGINT)
                       % {aqp.BOOT_DENOM} AS u
            FROM events CROSS JOIN reps
        ),
        weighted AS (SELECT g, r, y, {_boot_w} AS w FROM draws),
        per_replica AS (
            SELECT g, r,
                   CAST(sum(w * y) AS BIGINT) AS swy,
                   CAST(sum(w) AS BIGINT) AS sw
            FROM weighted GROUP BY g, r
        ),
        rmeans AS (
            SELECT g, r,
                   CAST(swy AS DOUBLE) / CAST(sw AS DOUBLE) / 100 AS m
            FROM per_replica WHERE sw > 0
        ),
        ranked AS (
            SELECT g, m,
                   row_number() OVER (PARTITION BY g
                                      ORDER BY m ASC, r ASC) AS ra,
                   row_number() OVER (PARTITION BY g
                                      ORDER BY m DESC, r DESC) AS rd
            FROM rmeans
        ),
        bounds AS (
            SELECT g,
                   max(CASE WHEN ra = 2 THEN m END) AS lo,
                   max(CASE WHEN rd = 2 THEN m END) AS hi
            FROM ranked GROUP BY g
        ),
        fullagg AS (
            SELECT event_type AS g,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS sy
            FROM events GROUP BY g
        )
        SELECT fullagg.g AS event_type, fullagg.n_rows,
               round(CAST(sy AS DOUBLE) / CAST(n_rows AS DOUBLE) / 100,
                     6) AS mean_value,
               round(lo, 6) AS boot_lo,
               round(hi, 6) AS boot_hi,
               round(hi - lo, 6) AS boot_width
        FROM fullagg JOIN bounds ON bounds.g = fullagg.g
        ORDER BY event_type
    """

    # q_stream_dedup: watermarked stream dedup's first-sightings over a
    # ts-ordered replay (zero lateness) must equal batch DISTINCT; the
    # raw sink content is published, so any duplicate emission fails
    # this hash.
    sql["q_stream_dedup"] = """
        SELECT user_id, date_trunc('hour', ts) AS event_hour
        FROM events
        GROUP BY user_id, date_trunc('hour', ts)
        ORDER BY user_id, event_hour
    """

    # q_events_grid_clusters: grid-density clustering — identical cell
    # quantization (floor of one IEEE division), count-aware minpts
    # (half mean occupancy, same ceil), 8-neighborhood components via
    # recursive-CTE closure (the operator uses min-label propagation —
    # different algorithm, identical labels), singleton dense cells
    # label themselves.
    sql["q_events_grid_clusters"] = """
        WITH RECURSIVE cells AS (
            SELECT CAST(floor(CAST(hour(ts) AS DOUBLE) / 1.0) AS BIGINT)
                       AS xi,
                   CAST(floor(value / 25.0) AS BIGINT) AS yi,
                   count(*) AS pts
            FROM events GROUP BY 1, 2
        ),
        par AS (
            SELECT greatest(
                2, CAST(ceil(sum(pts) / (2.0 * count(*))) AS BIGINT)
            ) AS minpts
            FROM cells
        ),
        dense AS (
            SELECT xi, yi, pts, xi * 1000 + yi AS cell_id
            FROM cells, par WHERE pts >= par.minpts
        ),
        edges AS (
            SELECT DISTINCT a.cell_id AS src, b.cell_id AS dst
            FROM dense a JOIN dense b
              ON b.xi BETWEEN a.xi - 1 AND a.xi + 1
             AND b.yi BETWEEN a.yi - 1 AND a.yi + 1
             AND a.cell_id <> b.cell_id
        ),
        reach(node, lab) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.src, r.lab
            FROM reach r JOIN edges e ON e.dst = r.node
        ),
        cc AS (
            SELECT node AS cell_id, min(lab) AS cluster_id
            FROM reach GROUP BY node
        )
        SELECT coalesce(cc.cluster_id, d.cell_id) AS cluster_id,
               d.cell_id, d.xi, d.yi, CAST(d.pts AS BIGINT) AS pts
        FROM dense d LEFT JOIN cc ON cc.cell_id = d.cell_id
        ORDER BY cluster_id, d.cell_id
    """
    # streaming grid maintenance: summed cell-count partials are
    # integer-exact, so the folded publish lands on the batch output
    sql["q_stream_grid_maintenance"] = sql["q_events_grid_clusters"]
    # streaming ANN-index maintenance: persisted 16-plane codes masked
    # to the count-derived layout at publish reproduce the batch cell
    # assignment bit-for-bit, so the incrementally-maintained index
    # answers the 5 probe queries identically to a scratch build
    sql["q_stream_ann_maintenance"] = sql["q_knn_ivf_det"]
    # streaming delta-join maintenance: the bilinear rule's per-batch
    # contributions (dO|><|C_pre + O_pre|><|dC + dO|><|dC) partition the
    # full join exactly once per pair, so the folded partials land on
    # the batch join+aggregate; rounding happens only at publish
    sql["q_stream_delta_join_maintenance"] = """
        SELECT c_nationkey,
               round(sum(o_totalprice), 2) AS revenue,
               count(*) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_nationkey
        ORDER BY c_nationkey
    """
    # Z-set maintenance under retractions: the maintained view must
    # converge to the join of the NET relation — every order with
    # o_orderkey % 10 == 3 is inserted then retracted by the replay,
    # and weighted cancellation must remove exactly its contributions
    sql["q_stream_zset_maintenance"] = """
        SELECT c_nationkey,
               round(sum(o_totalprice), 2) AS revenue,
               count(*) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_orderkey % 10 <> 3
        GROUP BY c_nationkey
        ORDER BY c_nationkey
    """

    # q_join_size_estimate: full replay of the relational Count-Min
    # inner product — count-derived power-of-two width (the same
    # auto-sizing arithmetic as cms_join_width), md5 bucket hashing
    # shared with the Spark plan, min-over-depth estimate, and the
    # exact frequency-vector inner product for the error column. All
    # integer until the final percentage.
    sql["q_join_size_estimate"] = f"""
        WITH prm AS (
            SELECT CAST(pow(2, ceil(log2(4 * greatest(2, least(
                       (SELECT count(*) FROM orders),
                       (SELECT count(*) FROM customer))))))
                   AS BIGINT) AS w
        ),
        dgrid AS (SELECT unnest(range({sketches.CMS_JOIN_DEPTH})) AS d),
        skf AS (
            SELECT d,
                   CAST('0x' || substr(md5(CAST(d AS VARCHAR) || ':' ||
                        CAST(o_custkey AS VARCHAR)), 1, 8) AS BIGINT)
                       % w AS bucket,
                   count(*) AS cnt
            FROM orders, dgrid, prm
            GROUP BY 1, 2
        ),
        skd AS (
            SELECT d,
                   CAST('0x' || substr(md5(CAST(d AS VARCHAR) || ':' ||
                        CAST(c_custkey AS VARCHAR)), 1, 8) AS BIGINT)
                       % w AS bucket,
                   count(*) AS cnt_d
            FROM customer, dgrid, prm
            GROUP BY 1, 2
        ),
        perd AS (
            SELECT f.d, sum(f.cnt * c.cnt_d) AS ip
            FROM skf f
            JOIN skd c ON c.d = f.d AND c.bucket = f.bucket
            GROUP BY f.d
        ),
        est AS (SELECT CAST(min(ip) AS BIGINT) AS est_rows FROM perd),
        ex AS (
            SELECT CAST(sum(cf * cd) AS BIGINT) AS exact_rows
            FROM (SELECT o_custkey AS k, count(*) AS cf
                  FROM orders GROUP BY 1) a
            JOIN (SELECT c_custkey AS k, count(*) AS cd
                  FROM customer GROUP BY 1) b USING (k)
        )
        SELECT est_rows, exact_rows,
               round((est_rows - exact_rows) * 100.0 / exact_rows, 2)
                   AS overestimate_pct
        FROM est, ex
    """
    # streaming join-size maintenance: counters stored at 2^24 buckets
    # mask down to the count-derived width exactly (W | 2^24), so the
    # folded sketch state reproduces the batch estimator bit-for-bit
    sql["q_stream_join_size_maintenance"] = sql["q_join_size_estimate"]

    # q_events_qdigest + its streaming twin: the deterministic q-digest
    # sweep unrolled as 16 per-level CTEs — the generator lives next to
    # the operator (operators/qdigest.py, the BPE unrolled-CTE pattern).
    # The twin folds exactly-additive leaf counters, so both sides
    # answer with the identical digest.
    sql["q_events_qdigest"] = qdigest.qdigest_oracle_sql()
    sql["q_stream_qdigest_maintenance"] = sql["q_events_qdigest"]

    # q_part_coreness + its streaming twin: the H-index iteration
    # unrolled as materialized CTE rounds (generator beside the
    # operator). The twin folds exactly-additive pair counters — the
    # maintained graph is bit-identical to the batch edge build.
    sql["q_part_coreness"] = kcore.coreness_oracle_sql()
    sql["q_stream_kcore_maintenance"] = sql["q_part_coreness"]

    # q_events_range_selectivity: digest rank-difference estimates vs
    # leaf-exact counts, sharing the q-digest CTE chain
    sql["q_events_range_selectivity"] = (
        qdigest.range_selectivity_oracle_sql()
    )

    # q_part_clustering: DuckDB enumerates triangles by the simple
    # a<b<c three-way self-join (different algorithm from the Spark
    # degree-oriented plan — the point of the check); the cc division
    # is the pinned (2.0 * tri) / (deg*(deg-1)) on both sides.
    sql["q_part_clustering"] = f"""
        WITH li AS (
            SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        ),
        e AS (
            SELECT a.p AS a, b.p AS b
            FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
            GROUP BY 1, 2
            HAVING COUNT(*) >= {kcore.MIN_CO_ORDERS}
        ),
        deg AS (
            SELECT v, COUNT(*) AS deg
            FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
            GROUP BY v
        ),
        tris AS (
            SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM e e1
            JOIN e e2 ON e2.a = e1.b
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        ),
        tc AS (
            SELECT v, COUNT(*) AS triangles
            FROM (SELECT unnest([x, y, z]) AS v FROM tris)
            GROUP BY v
        )
        SELECT d.v AS part_key,
               CAST(d.deg AS BIGINT) AS deg,
               CAST(COALESCE(t.triangles, 0) AS BIGINT) AS triangles,
               CASE WHEN d.deg < 2 THEN 0.0
                    ELSE CAST(round(
                        (2.0 * COALESCE(t.triangles, 0))
                        / (d.deg * (d.deg - 1)), 6) AS DOUBLE)
               END AS cc
        FROM deg d LEFT JOIN tc t ON t.v = d.v
        ORDER BY cc DESC, part_key
    """

    # q_customer_fuzzy_matches: SymSpell deletion-variant blocking
    # (identity + every single-character deletion), variant equi-join,
    # levenshtein==1 verify, per-name neighborhood report.
    sql["q_customer_fuzzy_matches"] = """
        WITH names AS (SELECT DISTINCT c_name AS term FROM customer),
        vars AS (
            SELECT DISTINCT term,
                   CASE WHEN i = 0 THEN term
                        ELSE substr(term, 1, i - 1) || substr(term, i + 1)
                   END AS var
            FROM names, unnest(range(0, len(term) + 1)) AS t(i)
        ),
        cand AS (
            SELECT DISTINCT a.term AS term_a, b.term AS term_b
            FROM vars a JOIN vars b
              ON a.var = b.var AND a.term < b.term
        ),
        pairs AS (
            SELECT term_a, term_b FROM cand
            WHERE levenshtein(term_a, term_b) = 1
        ),
        sided AS (
            SELECT term_a AS term, term_b AS partner FROM pairs
            UNION ALL
            SELECT term_b AS term, term_a AS partner FROM pairs
        )
        SELECT term AS c_name, count(*) AS n_matches,
               min(partner) AS nearest
        FROM sided GROUP BY term
        ORDER BY n_matches DESC, c_name
        LIMIT 50
    """

    # streaming histogram / MI maintenance: counter-form state is the
    # exact distribution / contingency table, so publish rebuilds the
    # batch output bit-for-bit — same oracles
    sql["q_stream_hist_maintenance"] = sql["q_events_equidepth_hist"]
    sql["q_stream_mi_maintenance"] = sql["q_events_mi"]

    # q_events_psi_drift: reference deciles via the pinned rank rule,
    # bucket = 1 + Σ(v > boundary) (duplicate boundaries counted per
    # occurrence, exactly like the Spark reduce), Laplace +0.5 per
    # bucket on both sides of the 6 dp ln fold.
    sql["q_events_psi_drift"] = """
        WITH pts AS (
            SELECT event_type AS k,
                   (epoch_us(ts) - 1704067200000000) // 3600000000 AS h,
                   CAST(value AS DOUBLE) AS v
            FROM events
            WHERE value IS NOT NULL AND event_type IS NOT NULL
        ),
        ref AS (SELECT k, v FROM pts WHERE h < 360),
        cur AS (SELECT k, v FROM pts WHERE h >= 360),
        n AS (SELECT count(*) AS n FROM ref),
        qs(q) AS (VALUES (0.1), (0.2), (0.3), (0.4), (0.5),
                         (0.6), (0.7), (0.8), (0.9)),
        ks AS (
            SELECT CAST(q AS DOUBLE) AS q,
                   greatest(1, CAST(ceil(CAST(q AS DOUBLE) * n)
                                    AS BIGINT)) AS rank
            FROM qs, n
        ),
        ranked AS (
            SELECT v, row_number() OVER (ORDER BY v) AS r FROM ref
        ),
        bs AS (SELECT q, v AS b FROM ks JOIN ranked ON r = rank),
        rbuck AS (
            SELECT k, rid,
                   1 + sum(CASE WHEN v > b THEN 1 ELSE 0 END) AS bucket
            FROM (SELECT k, v, row_number() OVER () AS rid FROM ref)
            CROSS JOIN bs GROUP BY k, rid
        ),
        cbuck AS (
            SELECT k, rid,
                   1 + sum(CASE WHEN v > b THEN 1 ELSE 0 END) AS bucket
            FROM (SELECT k, v, row_number() OVER () AS rid FROM cur)
            CROSS JOIN bs GROUP BY k, rid
        ),
        rcnt AS (SELECT k, bucket, CAST(count(*) AS BIGINT) AS cr
                 FROM rbuck GROUP BY k, bucket),
        ccnt AS (SELECT k, bucket, CAST(count(*) AS BIGINT) AS cc
                 FROM cbuck GROUP BY k, bucket),
        keyu AS (
            SELECT DISTINCT k FROM (
                SELECT k FROM rcnt UNION ALL SELECT k FROM ccnt
            )
        ),
        grid AS (
            SELECT keyu.k, b.bucket
            FROM keyu
            CROSS JOIN (
                SELECT unnest(generate_series(1, 10)) AS bucket
            ) b
        ),
        dense AS (
            SELECT grid.k, grid.bucket,
                   coalesce(rcnt.cr, 0) AS cr,
                   coalesce(ccnt.cc, 0) AS cc
            FROM grid
            LEFT JOIN rcnt ON rcnt.k = grid.k
                          AND rcnt.bucket = grid.bucket
            LEFT JOIN ccnt ON ccnt.k = grid.k
                          AND ccnt.bucket = grid.bucket
        ),
        tot AS (
            SELECT k, CAST(sum(cr) AS BIGINT) AS nr,
                   CAST(sum(cc) AS BIGINT) AS nc
            FROM dense GROUP BY k
        )
        SELECT d.k AS event_type,
               max(t.nr) AS n_ref,
               max(t.nc) AS n_cur,
               round(sum(
                   ((CAST(cc AS DOUBLE) + 0.5)
                        / (CAST(t.nc AS DOUBLE) + 5.0)
                    - (CAST(cr AS DOUBLE) + 0.5)
                        / (CAST(t.nr AS DOUBLE) + 5.0))
                   * ln(((CAST(cc AS DOUBLE) + 0.5)
                             / (CAST(t.nc AS DOUBLE) + 5.0))
                        / ((CAST(cr AS DOUBLE) + 0.5)
                             / (CAST(t.nr AS DOUBLE) + 5.0)))
               ), 6) AS psi
        FROM dense d JOIN tot t ON t.k = d.k
        GROUP BY d.k ORDER BY event_type
    """

    # q_events_chi2: same contingency cells as MI; chi2 via the
    # single-sum identity N·(Σ nxy²/(nx·ny) − 1).
    sql["q_events_chi2"] = """
        WITH cells AS (
            SELECT event_type AS x,
                   ((epoch_us(ts) - 1704067200000000) // 3600000000) % 24
                       AS y,
                   CAST(count(*) AS BIGINT) AS nxy
            FROM events
            WHERE event_type IS NOT NULL AND ts IS NOT NULL
            GROUP BY x, y
        ),
        mx AS (SELECT x, CAST(sum(nxy) AS BIGINT) AS nx
               FROM cells GROUP BY x),
        my AS (SELECT y, CAST(sum(nxy) AS BIGINT) AS ny
               FROM cells GROUP BY y),
        tot AS (SELECT CAST(sum(nxy) AS BIGINT) AS n FROM cells),
        dims AS (
            SELECT (SELECT count(*) FROM mx) AS rx,
                   (SELECT count(*) FROM my) AS ry
        ),
        s AS (
            SELECT n,
                   sum(CAST(nxy AS DOUBLE) * CAST(nxy AS DOUBLE)
                       / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE))) AS s
            FROM cells JOIN mx USING (x) JOIN my USING (y), tot
            GROUP BY n
        )
        SELECT tot.n AS n_rows,
               round(CAST(tot.n AS DOUBLE) * (s.s - 1.0), 6) AS chi2,
               CAST((rx - 1) * (ry - 1) AS BIGINT) AS dof,
               CASE WHEN least(rx - 1, ry - 1) > 0
                    THEN round(sqrt(CAST(tot.n AS DOUBLE) * (s.s - 1.0)
                               / (CAST(tot.n AS DOUBLE)
                                  * least(rx - 1, ry - 1))), 6)
               END AS cramers_v
        FROM tot, s, dims
    """

    # streaming item-sim maintenance: delta-rule pair counts and
    # additive marginals are exact integers, the scoring tail is
    # shared — same oracle as the batch recommender
    sql["q_stream_itemsim_maintenance"] = sql["q_part_itemsim"]

    # streaming PSI / chi-square maintenance: counter-form state is
    # the exact per-half distribution / contingency table — publish
    # rebuilds the batch outputs bit-for-bit, same oracles
    sql["q_stream_psi_maintenance"] = sql["q_events_psi_drift"]
    sql["q_stream_chi2_maintenance"] = sql["q_events_chi2"]

    # q4_order_priority: the textbook Q4 EXISTS — DuckDB keeps the
    # correlated form; Spark plans the equivalent left-semi join.
    # "Late" is q21's rule (shipped > order date + 90 days; no
    # commit/receipt dates in this schema).
    sql["q4_order_priority"] = """
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-07-01'
          AND o_orderdate < TIMESTAMP '1996-10-01'
          AND EXISTS (
              SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 90 DAY
          )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """

    # q_events_xcorr: CCF between the click and purchase dense hourly
    # series at lags -6..6 — same exact-integer-sums + one pinned
    # Pearson expression as the ACF oracle; the series range [0, max_h]
    # is derived from the TWO filtered types only, mirroring the Spark
    # side's filtered hourly_series call.
    sql["q_events_xcorr"] = """
        WITH hrs AS (
            SELECT event_type AS k,
                   (epoch_us(ts) - 1704067200000000) // 3600000000 AS h
            FROM events
            WHERE event_type IN ('click', 'purchase')
        ),
        cnt AS (
            SELECT k, h, CAST(count(*) AS BIGINT) AS c
            FROM hrs GROUP BY k, h
        ),
        grid AS (
            SELECT keys.k, g.h
            FROM (SELECT DISTINCT k FROM cnt) keys
            CROSS JOIN (
                SELECT unnest(generate_series(
                    0, (SELECT max(h) FROM cnt))) AS h
            ) g
        ),
        series AS (
            SELECT grid.k, grid.h, coalesce(cnt.c, 0) AS c
            FROM grid LEFT JOIN cnt ON cnt.k = grid.k AND cnt.h = grid.h
        ),
        lags AS (SELECT unnest(generate_series(-6, 6)) AS lag),
        pairs AS (
            SELECT lags.lag, a.c AS ca, b.c AS cb
            FROM (SELECT h, c FROM series WHERE k = 'click') a
            CROSS JOIN lags
            JOIN (SELECT h, c FROM series WHERE k = 'purchase') b
              ON b.h = a.h + lags.lag
        ),
        s AS (
            SELECT lag,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(ca) AS BIGINT) AS sa,
                   CAST(sum(cb) AS BIGINT) AS sb,
                   CAST(sum(ca * ca) AS BIGINT) AS saa,
                   CAST(sum(ca * cb) AS BIGINT) AS sab,
                   CAST(sum(cb * cb) AS BIGINT) AS sbb
            FROM pairs GROUP BY lag
        )
        SELECT lag, n AS n_pairs,
               CASE WHEN (CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                          - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) > 0
                         AND (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                              - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) > 0
                    THEN round((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
                                - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                               / sqrt((CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                                       - CAST(sa AS DOUBLE)
                                         * CAST(sa AS DOUBLE))
                                      * (CAST(n AS DOUBLE)
                                         * CAST(sbb AS DOUBLE)
                                         - CAST(sb AS DOUBLE)
                                           * CAST(sb AS DOUBLE))), 6)
               END AS ccf
        FROM s ORDER BY lag
    """

    # q_events_seasonal_anomaly: per-(type, hour-of-day) baseline over
    # the dense series (zero-filled — quiet hours are anomalies too);
    # z = (n·c − s)/sqrt(n·ss − s²) is the single pinned double
    # expression; top-20 by |z| with (k, h) tie-break.
    sql["q_events_seasonal_anomaly"] = f"""
        WITH {_HOURLY_K},
        cells AS (
            SELECT k, h % 24 AS hod,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(c) AS BIGINT) AS s,
                   CAST(sum(c * c) AS BIGINT) AS ss
            FROM series GROUP BY k, hod
        ),
        scored AS (
            SELECT series.k AS event_type, series.h, series.c,
                   round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6)
                       AS expected,
                   round((CAST(n AS DOUBLE) * CAST(series.c AS DOUBLE)
                          - CAST(s AS DOUBLE))
                         / sqrt(CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)),
                         6) AS z
            FROM series
            JOIN cells ON cells.k = series.k
                      AND cells.hod = series.h % 24
            WHERE n * ss - s * s > 0
        )
        SELECT event_type, h, c, expected, z
        FROM scored
        ORDER BY abs(z) DESC, event_type, h
        LIMIT 20
    """

    # q_orders_dependence_profile: the MI fold (same identities as
    # q_events_mi) per candidate pair, UNION ALL with pair labels;
    # emitted order pinned on the labels.
    _dep_exprs = {
        "o_orderstatus": "o_orderstatus",
        "o_orderpriority": "o_orderpriority",
        "order_year": "year(o_orderdate)",
        "order_month": "month(o_orderdate)",
    }
    _dep_branches = []
    for _nx, _ny in profiling.ORDERS_DEPENDENCE_CANDIDATES:
        _dep_branches.append(f"""
        SELECT '{_nx}' AS col_x, '{_ny}' AS col_y,
               n_rows, h_x, h_y, mi_nats, nmi
        FROM (
            WITH cells AS (
                SELECT {_dep_exprs[_nx]} AS x, {_dep_exprs[_ny]} AS y,
                       CAST(count(*) AS BIGINT) AS nxy
                FROM orders
                WHERE {_dep_exprs[_nx]} IS NOT NULL
                  AND {_dep_exprs[_ny]} IS NOT NULL
                GROUP BY x, y
            ),
            mx AS (SELECT x, CAST(sum(nxy) AS BIGINT) AS nx
                   FROM cells GROUP BY x),
            my AS (SELECT y, CAST(sum(nxy) AS BIGINT) AS ny
                   FROM cells GROUP BY y),
            tot AS (SELECT CAST(sum(nxy) AS BIGINT) AS n FROM cells),
            hx AS (
                SELECT ln(CAST(n AS DOUBLE))
                       - sum(CAST(nx AS DOUBLE) * ln(CAST(nx AS DOUBLE)))
                         / CAST(n AS DOUBLE) AS h
                FROM mx, tot GROUP BY n
            ),
            hy AS (
                SELECT ln(CAST(n AS DOUBLE))
                       - sum(CAST(ny AS DOUBLE) * ln(CAST(ny AS DOUBLE)))
                         / CAST(n AS DOUBLE) AS h
                FROM my, tot GROUP BY n
            ),
            mi AS (
                SELECT sum((CAST(nxy AS DOUBLE) / CAST(n AS DOUBLE))
                           * ln(CAST(n AS DOUBLE) * CAST(nxy AS DOUBLE)
                                / (CAST(nx AS DOUBLE)
                                   * CAST(ny AS DOUBLE)))) AS v
                FROM cells JOIN mx USING (x) JOIN my USING (y), tot
                GROUP BY n
            )
            SELECT tot.n AS n_rows,
                   round(hx.h, 6) AS h_x,
                   round(hy.h, 6) AS h_y,
                   round(mi.v, 6) AS mi_nats,
                   CASE WHEN hx.h * hy.h > 0
                        THEN round(mi.v / sqrt(hx.h * hy.h), 6)
                   END AS nmi
            FROM tot, hx, hy, mi
        )""")
    sql["q_orders_dependence_profile"] = (
        " UNION ALL ".join(_dep_branches)
        + " ORDER BY col_x, col_y"
    )

    # q_events_theil_sen: pairwise slopes over the dense per-group
    # hourly series (exact integer differences, one IEEE division),
    # median by the pinned rank rule — value-at-rank is tie-stable.
    sql["q_events_theil_sen"] = f"""
        WITH {_HOURLY_K},
        slopes AS (
            SELECT a.k,
                   CAST(b.c - a.c AS DOUBLE)
                   / CAST(b.h - a.h AS DOUBLE) AS slope
            FROM series a
            JOIN series b ON b.k = a.k AND b.h > a.h
        ),
        ranked AS (
            SELECT k, slope,
                   row_number() OVER (
                       PARTITION BY k ORDER BY slope
                   ) AS rn,
                   count(*) OVER (PARTITION BY k) AS n
            FROM slopes
        )
        SELECT k AS event_type, n AS n_pairs,
               round(slope, 6) AS sen_slope_per_hour
        FROM ranked
        WHERE rn = greatest(1, CAST(ceil(n * 0.5) AS BIGINT))
        ORDER BY event_type
    """

    # q_orders_benford: first digit from the exact cents integer's
    # decimal string (identical bucketing on both engines); the
    # Benford expectation is the single pinned ln expression.
    sql["q_orders_benford"] = """
        WITH up AS (
            SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS u
            FROM orders
            WHERE floor(o_totalprice * 100 + 0.5) > 0
        ),
        obs AS (
            SELECT CAST(substr(CAST(u AS VARCHAR), 1, 1) AS INT)
                       AS digit,
                   CAST(count(*) AS BIGINT) AS n_obs
            FROM up GROUP BY digit
        ),
        tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM obs),
        dense AS (
            SELECT d.digit, coalesce(obs.n_obs, 0) AS n_obs
            FROM (
                SELECT CAST(unnest(generate_series(1, 9)) AS INT)
                           AS digit
            ) d
            LEFT JOIN obs ON obs.digit = d.digit
        )
        SELECT digit, n_obs,
               round(CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE), 6)
                   AS obs_p,
               round(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0),
                     6) AS benford_p,
               round(CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE)
                     - ln(1.0 + 1.0 / CAST(digit AS DOUBLE))
                       / ln(10.0), 6) AS dev
        FROM dense, tot WHERE n > 0 ORDER BY digit
    """

    # q_part_hop_distance + its streaming twin: the BFS frontier walk
    # replayed as a depth-capped recursive CTE (generator beside the
    # operator, graph.bfs_oracle_sql) — UNION-deduped (v, hops) rows,
    # MIN per vertex = the BFS level.
    sql["q_part_hop_distance"] = graph.bfs_oracle_sql()
    sql["q_stream_bfs_maintenance"] = sql["q_part_hop_distance"]

    # q_events_hbos: identical bucket expression + exact marginals on
    # both engines; only floats are the two final 6-dp-quantized ln().
    sql["q_events_hbos"] = anomaly.hbos_oracle_sql()

    # q_part_ppr: seed-teleport PageRank replayed as the unrolled
    # 10dp-quantized CTE chain (generator beside the operator).
    sql["q_part_ppr"] = graph.ppr_oracle_sql()

    # q_orders_expectations: same six conditional aggregates in one
    # pass, unpivoted with UNION ALL (generator beside the operator).
    sql["q_orders_expectations"] = (
        expectations.expectations_oracle_sql()
    )

    # q_customer_golden_record: fuzzy CTE + recursive reachability
    # closure + the same survivorship windows (generator beside the
    # operator).
    sql["q_customer_golden_record"] = fuzzy.golden_record_oracle_sql()

    # q_events_markov_stationary: unrolled quantized power iteration
    # (generator beside the operator).
    sql["q_events_markov_stationary"] = events.markov_oracle_sql()

    # q_lineitem_zonemap: identical chunk keys + zone test on both
    # engines (generator beside the operator).
    sql["q_lineitem_zonemap"] = zonemap.zonemap_oracle_sql()
    # counter-form rebuild is bit-identical to the batch contract
    sql["q_stream_expectations_maintenance"] = sql[
        "q_orders_expectations"
    ]
    # q_join_size_sampled: identical 48-bit md5 key-bucket predicate
    # on both engines (generator beside the operator).
    sql["q_join_size_sampled"] = sketches.sampled_join_oracle_sql()

    # q_bloom_join_revenue: the oracle is the PLAIN join — the bloom
    # prune admits no false negatives and the exact join removes the
    # false positives, so the reduction is invisible to semantics.
    sql["q_bloom_join_revenue"] = """
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2)
                   AS revenue,
               CAST(count(*) AS BIGINT) AS n_items
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
    """

    return sql
