#!/usr/bin/env python
"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "jobs": {name: Spark jobs, ...},
   "py4j_calls": {name: py4j calls, ...},
   "codegen_compiles": <Janino compiles over the timed runs>, "sf": <float>}

``jobs`` and ``py4j_calls`` describe each query's last timed run.
``py4j_calls`` counts the Python→JVM round trips (calls of py4j's
``ClientServerConnection.send_command``) from building the query's
plan through the end of its write: the driver-side plan-building cost
that wall time at small scale factors mostly is.

Each query is materialized fully via the ``noop`` sink (no driver
collect, no disk write) — measures plan execution, the thing that
scales.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from py4j.clientserver import ClientServerConnection

from enriched_crime_incident_data_pipeline_spark import get_spark, registry


class _Py4jCalls:
    """Counts py4j round trips by wrapping the one method every
    Python→JVM call goes through (pinned-thread client server)."""

    def __init__(self) -> None:
        self.n = 0
        send = ClientServerConnection.send_command

        def counted(conn, *args, **kwargs):
            self.n += 1
            return send(conn, *args, **kwargs)

        ClientServerConnection.send_command = counted


HEADLINE = [
    "flagship_enriched_report",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q10",
    "tpch_q18",
    "tpch_q2",
    "tpch_q9",
    "tpch_q21",
    "asof_join",
    "range_join",
    "tp1_pack",
    "j1_broadcast_join",
    "j4_rank_joinback",
    "w3_window_max",
    "window_tumbling",
    "sessionization",
    "dd1_exact_dedup",
    "dd4_simhash",
    "dd5_ngram_jaccard",
    "dd7_embed_blocked",
    "ss1_ann_bruteforce",
    "ss3_ivf_topk",
    "mm1_media_features",
    "st1_stream_tumbling",
    "dc1_contamination",
    "tfidf_top_terms",
    "sk3_cms",
    "wa3_range_frame",
    "wa7_semi_join",
]

# The measured slowest non-headline registry queries (sf0.1): the
# long tail where regressions would otherwise hide round-over-round.
# Kept OUT of the headline total so `value` stays comparable to
# earlier rounds; reported separately as `longtail`/`longtail_total`.
# dd6 stays listed as the regression guard for its blocked-kernel
# rewrite (28.1 s → 0.6 s in round 2).
LONGTAIL = [
    "dd6_embed_cosine",  # exact all-pairs via block-tile numpy kernel
    "st5_stream_stream_join",
    "corpus_build",
    "dd8_simhash_pairs",
    "dd9_dup_clusters",
    "dd10_dedup_keeper",
    "st2_stream_sessions",
    "corpus_build2",  # composed round-2 curation DAG
    "corpus_build3",  # full pretraining recipe capstone (round 3)
    "st7_stream_corpus_ingest",  # streaming corpus ingest (round 3)
    "dd13_repeated_spans",  # substring-level dedup, ~1 row/token (r3)
    "dd14_semdedup",  # embedding SemDeDup: blocked pairs + CC (r3)
    "tp11_curriculum_order",  # LM-scored global order index (r3)
    "corpus_build4",  # seed-LM -> budget -> curriculum capstone (r3)
    "dd11_segment_dedup",  # never-shuffle-text segment dedup (r4)
    "dc4_overlap_fraction",  # fractional contamination score (r4)
    "sj1_salted_hot_agg",  # two-phase salted agg over 90%-hot key (r4)
    "zo1_zorder_tiles",  # Morton-tile layout stats (r4)
    "mm5_phash_neardup",  # perceptual dHash image near-dup (r4)
    "ret2_hybrid_rrf",  # BM25 + ANN reciprocal-rank fusion (r4)
    "gr1_pagerank",  # 5 damped rounds over the near-dup graph (r4)
    "tok1_bpe_merges",  # 3 BPE training rounds over the corpus (r4)
    "sk7_quantile_sketch",  # mergeable histogram quantile sketch (r4)
    "tok3_wordpiece_encode",  # greedy longest-match piece encode (r4)
    "tok4_bpe_sampled",  # sample-trained merges, one-pass full encode (r5)
    "tok5_bpe_char_merges",  # char-BPE on the word histogram (r5)
    "tok6_bpe_char_encode",  # word-join encode, text walked once (r5)
    "gr2_pagerank_converged",  # DAG pagerank w/ tol=0 early exit (r5)
    "gr3_hits",  # integer HITS hub/authority, 4 unrolled rounds (r5)
    "dc6_flag_in_row",  # frozenset-kernel in-row decontamination (r5)
    "dc7_bloom_decontaminate",  # packed-bitset bloom blocklist probe (r5)
    "dd17_cdc_segments",  # shift-robust content-defined segment dedup (r5)
    "st17_stream_bloom_probe",  # stateless stream twin of dc7 (r5)
    "corpus_refresh1",  # incremental snapshot-ingest verdict capstone (r5)
    "gr5_label_prop",  # 3-round deterministic LPA communities (r5)
    "st18_stream_word_hist",  # streaming char-BPE training feeder (r5)
    "sk8_heavy_hitters",  # CMS shortlist -> exact verify (r5)
    "dd19_lsh_verified",  # LSH candidates -> exact-Jaccard verify (r5)
    "gr6_kcore",  # synchronous k-core peel, driver tier (r6)
    "ret3_rocchio_expand",  # two-pass pseudo-relevance BM25 (r6)
    "dd20_dup_rate_by_source",  # per-source duplication-rate audit (r6)
    "dq5_ri_audit",  # per-FK-edge orphan-rate audit (r6)
    "st20_stream_decayed_counts",  # streaming twin of ts7 (r6)
    "tok8_compression_curve",  # 0..3-merge piece totals, one word-hist pass (r6)
    "dd21_source_overlap",  # mergeable-MinHash inter-provider audit (r6)
    "tok9_unigram_train",  # unigram-LM hard-EM training (r7)
    "tok10_unigram_encode",  # Viterbi encode, distinct words once (r7)
    "gr7_scc",  # directed SCC: driver Tarjan / f-b peeling tiers (r7)
    "st21_stream_asof",  # streaming as-of via interval conversion (r7)
    "st22_stream_weighted_sample",  # maintained E-S sample state (r7)
    "dq6_token_drift",  # per-source TV drift, exact integer bp (r7)
    "ts9_max_concurrency",  # sweep-line peak concurrency (r7s3)
    "st24_stream_concurrency",  # streaming twin of ts9 (r7s3)
    "ret4_postings_blocks",  # blocked inverted-index shard build (r7s3)
    "ret6_trigram_search",  # trigram-pruned substring search (r7s3)
    "ss17_kmeans_step",  # exact Lloyd step, row-local assign (r7s3)
    "gr10_bfs_distance",  # bounded multi-source frontier BFS (r7s3)
    "dd22_cluster_agreement",  # integer ARI vs source partition (r7s3)
    "dd23_threshold_sweep",  # semdedup threshold curve, one pair scan (r7s3)
    "stat6_linear_trend",  # exact-integer OLS drift line (r7s3)
    "st25_stream_trend",  # streaming twin of stat6 (r7s3)
    "er2_blocking_recall",  # blocking recall vs exhaustive sample truth (r7s3)
    "cdc2_snapshot_diff",  # added/changed/unchanged state diff (r7s3)
    "st26_stream_session_window",  # native session_window aggregation (r7s3)
    "ss18_nprobe_curve",  # IVF recall-vs-cost curve, one scoring pass (r7s3)
    "mm6_phash_threshold_curve",  # perceptual-dup Hamming curve (r7s3)
    "gr11_modularity",  # exact-integer Newman modularity of LPA (r7s3)
    "dq9_reconciliation",  # header/detail cents reconciliation (r7s3)
    "json2_schema_profile",  # JSON key/type discovery profile (r7s3)
    "asof6_window_agg",  # point-in-time feature aggregate (r7s3)
    "sk9_group_heavy_hitters",  # grouped HH from one global sketch (r7s3)
    "ret7_phrase_search",  # positional phrase intersection (r7s3)
    "tp16_mixture_curve",  # temperature mixture table (r7s3)
    "seq3_collocations",  # bigram lift collocation mining (r7s3)
    "gr12_reciprocity",  # directed mutual-link share (r7s3)
    "st27_stream_mixture",  # streaming twin of tp16 (r7s3)
    "stat7_lorenz_curve",  # exact concentration polyline (r7s3)
    "ss19_quant_bits_curve",  # storage-precision distortion curve (r7s3)
    "er3_cluster_cohesion",  # transitive-chaining cost audit (r7s3)
    "dd8b_simhash_wide",  # uniform-tail simhash: 32-bit bands + probe (r8)
    "st28_stream_corpus_refresh",  # incremental refresh vs band index (r8)
    "er4_deletion_blocking",  # FastSS blocking + capped truth pass (r8)
    "gr13_assortativity",  # degree-moment joins over citation edges (r8)
    "st29_stream_schema_drift",  # dq10 counters as streaming state (r8)
    "st31_incident_feed_source",  # custom streaming source, offset replay (r8)
    "seq4_session_paths",  # top-10 in-session 3-step paths (r8)
    "gr14_two_hop_reach",  # open 2-path reach, hub-cap operator (r8)
    "tok12_vocab_drift",  # snapshot-over-snapshot vocab/OOV drift (r9)
    "st32_stream_k_anonymity",  # streaming quasi-id privacy gate (r9)
    "gr15_wedge_skew_audit",  # degree-bucket share of the wedge sum (r9)
    "ret8_self_retrieval_mrr",  # known-item IR eval, rarest-term probe (r9)
    "st33_stream_order_audit",  # streaming twin of dq12 (r9)
    "sk11_cms_width_curve",  # CMS width-sizing curve (r9)
    "dq13_column_profile",  # per-column profile, one Expand pass (r9)
    "tp18_fragmentation_report",  # packing boundary-crossing share (r9)
    "dd25_cluster_size_histogram",  # dup-family size report (r9)
    "dq14_key_uniqueness",  # lake-wide PK audit over all 10 tables (r9)
    "ta16_zipf_profile",  # exact rank-frequency shape, never ranks tokens (r9)
    "dc9_contamination_by_source",  # per-provider leak attribution (r9)
    "dd26_shingle_sensitivity",  # LSH shingle-width tuning curve (r9)
    "tp17_truncation_loss",  # truncation-loss side of max-seq-len (r9, wired r10)
    "dq12_event_order_audit",  # per-user out-of-order audit (r9, wired r10)
    "ts11_seasonality_profile",  # (dow, hour) seasonality cells (r9, wired r10)
    "ss21_dim_stats",  # embedding per-dimension profile (r9, wired r10)
    "mm8_exact_media_dedup",  # (md5, length) media dedup (r9, wired r10)
    "ol2_iqr_outliers",  # Tukey-fence robust outlier gate (r9, wired r10)
    "corpus_curation_run",  # dedup->decontaminate->pack capstone report (r10)
    "tp19_pack_budget_curve",  # one prefix-sum pass pricing 4 pack budgets (r10)
    "sk12_hll_precision_curve",  # HLL m-sizing curve vs exact distinct (r10)
    "dd27_jaccard_threshold_curve",  # verified-pair threshold cells (r10)
    "dc10_gram_length_curve",  # decontamination n-gram-length knob (r10)
    "gr16_component_size_histogram",  # citation-graph connectivity profile (r10)
    "ret9_postings_skew_profile",  # term-df skew, the max_df cap evidence (r10)
    "tok13_piece_length_profile",  # usage-weighted piece-length histogram (r10)
    "dd28_sig_length_curve",  # minhash signature-length error curve (r10, 4.55 s warm)
    "gr17_transitivity",  # global clustering coefficient, near-dup graph (r10, 1.81 s warm)
    "sk13_cms_depth_curve",  # CMS depth-sizing curve, d=1/2/4 (r10, 1.74 s warm)
    "er6_distance_threshold_curve",  # ER verify-threshold pricing (r10, 2.34 s warm)
    "ol4_gate_agreement",  # z/IQR/MAD outlier-gate agreement cells (r10, 2.12 s warm)
    "mm10_dhash_band_skew",  # dHash band-bucket skew profile (r10, 2.34 s warm)
    "dc11_bloom_exact_agreement",  # measured Bloom FP mass on the real workload (r10, 3.72 s warm)
    # r10 full-registry audit sweep (tools/bench_audit.py): every
    # previously-unwired query was timed warm at sf0.1; all >= 1.5 s
    # land here, the rest carry measured exclusions in BENCH_EXCLUDED
    "corpus_report1",  # r10 audit sweep: 2.64 s warm at sf0.1
    "dc3_leakage_safe_split",  # r10 audit sweep: 1.78 s warm at sf0.1
    "dd12_incremental_lsh",  # r10 audit sweep: 2.19 s warm at sf0.1
    "dd15_containment",  # r10 audit sweep: 1.58 s warm at sf0.1
    "dd16_minhash_estimate",  # r10 audit sweep: 3.22 s warm at sf0.1
    "dd5b_ngram_capped",  # r10 audit sweep: 2.05 s warm at sf0.1
    "er1_entity_clusters",  # r10 audit sweep: 1.76 s warm at sf0.1
    "gr8_personalized_pagerank",  # r10 audit sweep: 2.00 s warm at sf0.1
    "gr9_link_predict",  # r10 audit sweep: 3.21 s warm at sf0.1
    "hist2_equidepth",  # r10 audit sweep: 2.66 s warm at sf0.1
    "j5_weather_joinback",  # r10 audit sweep: 2.20 s warm at sf0.1
    "p6_url_classify",  # r10 audit sweep: 1.68 s warm at sf0.1
    "percentiles",  # r10 audit sweep: 2.22 s warm at sf0.1
    "ret1_bm25_topk",  # r10 audit sweep: 1.60 s warm at sf0.1
    "s5b_pdf_decode",  # r10 audit sweep: 3.60 s warm at sf0.1
    "seq2_cooccurrence",  # r10 audit sweep: 1.72 s warm at sf0.1
    "ss10_ivf_pq_search",  # r10 audit sweep: 2.86 s warm at sf0.1
    "ss11_recall_eval",  # r10 audit sweep: 1.75 s warm at sf0.1
    "ss16_embed_diversity",  # r10 audit sweep: 3.57 s warm at sf0.1
    "ss5_lsh_near_dup",  # r10 audit sweep: 2.77 s warm at sf0.1
    "ss7_pq_codes",  # r10 audit sweep: 2.04 s warm at sf0.1
    "ss8_pq_adc_topk",  # r10 audit sweep: 2.09 s warm at sf0.1
    "st10_stream_embed_probe",  # r10 audit sweep: 3.72 s warm at sf0.1
    "st23_stream_ks_drift",  # r10 audit sweep: 1.59 s warm at sf0.1
    "st30_stream_gap_monitor",  # r10 audit sweep: 2.32 s warm at sf0.1
    "st4_stream_dedup",  # r10 audit sweep: 1.72 s warm at sf0.1
    "st6_stream_lsh_probe",  # r10 audit sweep: 2.41 s warm at sf0.1
    "st8_stream_decontaminate",  # r10 audit sweep: 1.66 s warm at sf0.1
    "st9_stream_hll",  # r10 audit sweep: 1.81 s warm at sf0.1
    "stat2_mad",  # r10 audit sweep: 2.60 s warm at sf0.1
    "stat5_winsorize",  # r10 audit sweep: 3.14 s warm at sf0.1
    "ta6_winnow",  # r10 audit sweep: 3.06 s warm at sf0.1
    "tok7_fertility_audit",  # r10 audit sweep: 1.91 s warm at sf0.1
]

# Every registry query NOT in HEADLINE/LONGTAIL, with the measured
# reason (r10 verdict item 2 — tests/test_registry_hygiene.py asserts
# HEADLINE + LONGTAIL + BENCH_EXCLUDED covers the registry exactly, so
# a new operator cannot land without either a bench entry or an
# explicit measured exclusion). Sub-1.5 s entries are excluded because
# same-day sub-second timings bounce +/-30% (r9 measured) and add wall
# without regression signal; their correctness coverage is the full
# selfcheck + the pytest oracle slice.
BENCH_EXCLUDED = {
    "ta17_filter_attribution": "r10: 1.27 s warm at sf0.1 (median of 3), below the 1.5 s longtail bar",
    "ts14_changepoint_profile": "r10: 0.60 s warm at sf0.1 (median of 3), below the 1.5 s longtail bar",
    "ss22_norm_profile": "r10: 0.38 s warm at sf0.1 (median of 3), below the 1.5 s longtail bar",
    "geo3_grid_density_profile": "r10: 0.79 s warm at sf0.1 (median of 3), below the 1.5 s longtail bar",
    "sj3_salt_factor_curve": "r10: 0.93 s warm at sf0.1 (median of 3), below the 1.5 s longtail bar",
    "tp20_fragmentation_by_source": "r10: 1.47 s warm at sf0.1 (median of 3), below the 1.5 s longtail bar",
    "er5_block_size_profile": "r10: 1.04 s warm at sf0.1, below the 1.5 s longtail bar",
    "ts13_burstiness_profile": "r10: 0.31 s warm at sf0.1, below the 1.5 s longtail bar",
    "ts12_autocorr_profile": "r10: 0.77 s warm at sf0.1, below the 1.5 s longtail bar",
    "ol3_grouped_mad_outliers": "r10: 1.28 s warm at sf0.1, below the 1.5 s longtail bar",
    "mm9_payload_size_profile": "r10: 0.28 s warm at sf0.1, below the 1.5 s longtail bar",
    "dq15_fk_fanout_profile": "r10: 0.87 s warm at sf0.1, below the 1.5 s longtail bar",
    "a10_count_distinct": "r10 audit: 1.43 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "a1_groupby_count": "r10 audit: 0.42 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "a3_watermark_max": "r10 audit: 0.32 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "a4_global_count": "r10 audit: 0.27 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "a6_distinct_single": "r10 audit: 0.35 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "a7_distinct_multi": "r10 audit: 0.76 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "agg1_ordered_listagg": "r10 audit: 0.56 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "arr1_token_sets": "r10 audit: 0.43 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "asof2_forward": "r10 audit: 1.15 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "asof3_nearest": "r10 audit: 1.11 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "asof4_tolerance": "r10 audit: 0.68 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "asof5_lastn": "r10 audit: 1.09 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "attr1_last_touch": "r10 audit: 0.56 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "cdc1_upsert_merge": "r10 audit: 0.60 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "cube": "r10 audit: 1.18 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "dc2_cross_snapshot": "r10 audit: 0.41 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "dc5_semantic_decontaminate": "r10 audit: 1.23 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "dc8_scrub_spans": "r10 audit: 0.88 s warm at sf0.1, below the 1.5 s longtail bar",
    "dd13b_repeated_spans_sampled": "r10 audit: 1.48 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "dd18_intradoc_dedup": "r10 audit: 0.39 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "dd2_minhash_bands": "r10 audit: 0.76 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "dd3_lsh_pairs": "r10 audit: 1.02 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "dq10_schema_drift": "r10 audit: 1.42 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "dq11_k_anonymity": "r10 audit: 0.29 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "dq1_constraint_audit": "r10 audit: 0.78 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "dq2_profile": "r10 audit: 1.16 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "dq3_volume_anomaly": "r10 audit: 0.45 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "dq4_fd_audit": "r10 audit: 0.36 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "dq7_ks_drift": "r10 audit: 0.68 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "dq8_benford": "r10 audit: 0.52 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "f13_side_of_town": "r10 audit: 0.21 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "f15_element_at": "r10 audit: 0.15 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "f1_derivations": "r10 audit: 0.90 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "f5_date_format": "r10 audit: 0.20 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "funnel1_conversion": "r10 audit: 0.70 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "funnel2_time_bounded": "r10 audit: 0.60 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "fuzzy1_name_pairs": "r10 audit: 0.48 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "geo1_grid_join": "r10 audit: 0.67 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "geo2_grid_knn": "r10 audit: 1.13 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "gr4_triangles": "r10 audit: 1.38 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "graph1_tree_paths": "r10 audit: 1.22 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "hist1_totalprice": "r10 audit: 0.23 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "inc_agg_merge": "r10 audit: 0.72 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "j11_interval_overlap": "r10 audit: 0.61 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "j2_emsstat_selfjoin": "r10 audit: 1.50 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "j3_cache_antijoin": "r10 audit: 1.02 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "j7_anti_join": "r10 audit: 0.22 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "j8_full_outer": "r10 audit: 0.33 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "j9_nullsafe_join": "r10 audit: 0.29 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "json_extract": "r10 audit: 0.48 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "map1_props_map": "r10 audit: 0.58 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "mm2_media_meta": "r10 audit: 0.15 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "mm3_frame_sample": "r10 audit: 0.14 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "mm4_resize_plan": "r10 audit: 0.28 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "mm7_frame_match": "r10 audit: 1.37 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "ol1_zscore_outliers": "r10 audit: 0.51 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "p1_projection": "r10 audit: 0.20 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "p2_star": "r10 audit: 0.10 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "p3_point_lookup": "r10 audit: 0.12 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "p4_null_health": "r10 audit: 0.26 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "pivot": "r10 audit: 0.38 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "ret5_ndcg": "r10 audit: 0.71 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "retention1_cohorts": "r10 audit: 0.54 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "rollup": "r10 audit: 0.41 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "s2_watermark_prune": "r10 audit: 1.27 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "s5_pdf_parse": "r10 audit: 0.78 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "s6_idempotent_append": "r10 audit: 0.35 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "scd2_intervals": "r10 audit: 0.36 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "scd3_temporal_lookup": "r10 audit: 0.42 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "seq1_transitions": "r10 audit: 0.42 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "set_ops": "r10 audit: 0.45 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "set_ops_all": "r10 audit: 0.39 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "sj2_salted_join": "r10 audit: 0.39 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "sk10_bloom_fpr_curve": "r10 audit: 1.29 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "sk1_kmv_distinct": "r10 audit: 0.77 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "sk2_bloom": "r10 audit: 0.61 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "sk4_hll_distinct": "r10 audit: 1.09 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "sk5_hll_rollup": "r10 audit: 1.24 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "sk6_kmv_set_ops": "r10 audit: 0.88 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "sort_limit": "r10 audit: 0.21 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "sql1_sql_api": "r10 audit: 0.47 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "ss12_truncated_recall": "r10 audit: 1.38 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "ss13_filtered_ann": "r10 audit: 0.30 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "ss14_mmr_topk": "r10 audit: 0.76 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "ss15_batch_topk": "r10 audit: 0.38 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "ss20_ivf_balance": "r10 audit: 0.73 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "ss2_ivf_assign": "r10 audit: 0.47 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "ss4_hyperplane_lsh": "r10 audit: 1.39 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "ss6_quantize_int8": "r10 audit: 0.30 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "ss9_cluster_purity": "r10 audit: 0.76 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "st11_stream_ohlc": "r10 audit: 1.35 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "st12_stream_temperature_sample": "r10 audit: 0.74 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "st13_stream_sliding": "r10 audit: 1.32 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "st14_stream_phash_probe": "r10 audit: 1.34 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "st15_stream_temporal_enrich": "r10 audit: 1.06 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "st16_stream_quantile": "r10 audit: 1.07 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "st19_stream_heavy_hitters": "r10 audit: 0.70 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "st3_stream_static_join": "r10 audit: 1.06 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "stat1_corr": "r10 audit: 1.14 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "stat3_mode": "r10 audit: 0.41 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "stat4_gini": "r10 audit: 0.28 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "ta10_oov_rate": "r10 audit: 0.90 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "ta11_lm_quality": "r10 audit: 1.27 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "ta12_bpe_tokens": "r10 audit: 0.21 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "ta13_lang_confusion": "r10 audit: 1.04 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "ta14_seed_lm_quality": "r10 audit: 0.81 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "ta15_heaps_curve": "r10 audit: 0.57 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "ta1_token_count": "r10 audit: 0.24 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "ta2_quality": "r10 audit: 1.11 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "ta3_lang_id": "r10 audit: 0.88 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "ta4_fingerprint": "r10 audit: 0.16 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "ta5_token_pieces": "r10 audit: 0.19 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "ta7_quality_filter": "r10 audit: 0.91 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "ta8_repetition": "r10 audit: 1.10 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "ta9_pii_scrub": "r10 audit: 0.33 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "tok11_coverage_curve": "r10 audit: 0.50 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "tok2_bpe_encode": "r10 audit: 1.48 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "topk_per_group": "r10 audit: 0.41 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "tp10_budget_select": "r10 audit: 1.40 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "tp12_temperature_sample": "r10 audit: 0.31 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "tp13_epoch_reshuffle": "r10 audit: 0.22 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "tp14_domain_upsample": "r10 audit: 0.20 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "tp15_weighted_k_sample": "r10 audit: 0.32 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "tp2_stratified_sample": "r10 audit: 0.13 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "tp3_boilerplate_prune": "r10 audit: 1.08 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "tp4_shuffle_shards": "r10 audit: 0.22 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "tp5_sliding_chunks": "r10 audit: 0.44 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "tp6_group_sample": "r10 audit: 0.19 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "tp7_length_buckets": "r10 audit: 0.43 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "tp8_weighted_sample": "r10 audit: 0.13 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "tp9_mixture_sample": "r10 audit: 0.39 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "tpch_q11": "r10 audit: 0.86 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "tpch_q12": "r10 audit: 0.56 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "tpch_q13": "r10 audit: 0.47 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "tpch_q14": "r10 audit: 0.40 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "tpch_q15": "r10 audit: 0.47 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "tpch_q16": "r10 audit: 0.78 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "tpch_q17": "r10 audit: 0.54 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "tpch_q19": "r10 audit: 0.43 s warm at sf0.1, below the 1.5 s longtail bar",
    "tpch_q20": "r10 audit: 1.03 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "tpch_q22": "r10 audit: 0.39 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "tpch_q4": "r10 audit: 0.42 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "tpch_q7": "r10 audit: 0.72 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "tpch_q8": "r10 audit: 0.84 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "ts10_gap_histogram": "r10 audit: 0.58 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "ts1_gapfill": "r10 audit: 0.29 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "ts2_forward_fill": "r10 audit: 0.35 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "ts3_interval_merge": "r10 audit: 0.57 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "ts4_cumulative_distinct": "r10 audit: 0.30 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "ts5_ohlc_downsample": "r10 audit: 0.43 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "ts6_ewma": "r10 audit: 0.38 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "ts7_decayed_counts": "r10 audit: 0.40 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "ts8_time_weighted_avg": "r10 audit: 0.47 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "udf1_pandas_parity": "r10 audit: 0.51 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "udtf2_word_offsets": "r10 audit: 0.34 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "w1_frequency_rank": "r10 audit: 0.33 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "wa1_lead_lag": "r10 audit: 0.46 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "wa2_rolling": "r10 audit: 0.27 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "wa4_ntile": "r10 audit: 0.22 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "wa5_grouping_sets": "r10 audit: 0.91 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "wa6_unpivot": "r10 audit: 0.12 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "wa8_dist_functions": "r10 audit: 0.23 s single-shot at sf0.1, below the 1.5 s longtail bar",
    "zo2_skipping_audit": "r10 audit: 0.58 s single-shot at sf0.1, below the 1.5 s longtail bar",
}


# Re-timed every DRIFT_EVERY queries as a host-load canary: a cheap,
# stable scan+agg whose wall only moves with machine conditions.  The
# resulting series lets a later reader attribute cross-round deltas to
# load (canary moved too) vs regression (canary flat, query moved).
# r10 lesson: the scan-bound q6 canary moved only +11% during a
# capped-frequency window that inflated compute-bound entries
# +30-40% (all cores flat 2100 MHz; diff-identity ruled out code) —
# so a SECOND, compute-bound canary (sk3's md5 hashing + counter
# matrix) rides the same drift schedule; normalize scan-shaped
# entries against series 1 and arithmetic-shaped entries against
# series 2.
DRIFT_QUERY = "tpch_q6"
DRIFT_QUERY2 = "sk3_cms"
DRIFT_EVERY = 5


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    t_bench0 = time.time()
    load_start = list(os.getloadavg())

    spark = get_spark(app_name="bench")
    qs = registry.spark_queries()

    # Steady-state measurement: one untimed warmup run per query
    # (JVM JIT + whole-stage-codegen compilation + parquet footer
    # cache), then REPS timed runs per query reporting the MEDIAN
    # (plus min). Single-shot timings of sub-2 s queries on a shared
    # 32-core box swing ±40%, which drowned real round-over-round
    # deltas in rounds 1-2; the median of >=3 reps makes the per-query
    # delta signal, not scheduler noise.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    for name in HEADLINE + LONGTAIL:
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    # drop warmup-populated caches (flagship persists its silver
    # stage) so every timed run does its own full work
    spark.catalog.clearCache()

    drift: list[float] = []
    drift2: list[float] = []
    _query_counter = [0]
    sc = spark.sparkContext
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    jobs: dict[str, int] = {}
    py4j = _Py4jCalls()
    py4j_calls: dict[str, int] = {}
    runs = itertools.count()

    def _run_once(name: str) -> float:
        # a job group per run, so the status tracker counts its jobs
        # (a streaming query's jobs carry its own group, not this one)
        group = f"bench-{next(runs)}"
        sc.setJobGroup(group, name)
        t0, calls0 = time.time(), py4j.n
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        py4j_calls[name] = py4j.n - calls0
        sc._jsc.clearJobGroup()
        spark.catalog.clearCache()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
        return dt

    def timed(names: list[str]) -> tuple[dict[str, float], dict[str, float]]:
        med: dict[str, float] = {}
        mins: dict[str, float] = {}
        for name in names:
            samples: list[float] = []
            for _ in range(reps):
                samples.append(_run_once(name))
            med[name] = round(statistics.median(samples), 3)
            mins[name] = round(min(samples), 3)
            _query_counter[0] += 1
            if _query_counter[0] % DRIFT_EVERY == 0:
                drift.append(round(_run_once(DRIFT_QUERY), 3))
                drift2.append(round(_run_once(DRIFT_QUERY2), 3))
        return med, mins

    compiles0 = codegen.METRIC_COMPILATION_TIME().getCount()
    timings, timings_min = timed(HEADLINE)
    longtail, longtail_min = timed(LONGTAIL)
    # generated classes compiled (codegen-cache misses) while timing
    compiles = codegen.METRIC_COMPILATION_TIME().getCount() - compiles0

    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "reps": reps,
        "stat": "median",
        "queries": timings,
        "queries_min": timings_min,
        "longtail": longtail,
        "longtail_min": longtail_min,
        "longtail_total": round(sum(longtail.values()), 3),
        # Spark jobs of one run of each query (its last timed run)
        "jobs": {n: jobs[n] for n in HEADLINE + LONGTAIL},
        "py4j_calls": {n: py4j_calls[n] for n in HEADLINE + LONGTAIL},
        "codegen_compiles": compiles,
        "sf": sf,
        "host": {
            "cpus": os.cpu_count(),
            # the core count the bench actually RAN at (local[N]) —
            # r10 verdict item 8: a record must be attributable to its
            # config, so the filename below carries it too
            "cpus_conf": int(
                os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8)
            ),
            "loadavg_start": [round(x, 2) for x in load_start],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "bench_wall_sec": round(time.time() - t_bench0, 1),
            "drift_query": DRIFT_QUERY,
            # re-timed every DRIFT_EVERY queries; spread == noise floor
            "drift_series": drift,
            # compute-bound companion canary (r10 lesson: a frequency
            # cap moves arithmetic-heavy entries far more than the
            # scan-bound series 1 can indicate)
            "drift_query2": DRIFT_QUERY2,
            "drift_series2": drift2,
        },
    }
    line = json.dumps(payload)
    print(line)
    sys.stdout.flush()
    # the driver's BENCH_r{N}.json keeps only a 2 kB tail of stdout,
    # which truncates the headline numbers out of the round record —
    # persist the complete result next to the repo so every per-query
    # number is recoverable from the repo alone (committed per round).
    # r11 (verdict item 8): the filename carries the core count and
    # scale factor, so the driver's 8-core sweep (or an sf1 run) can
    # never clobber the committed 32-core sf0.1 record.
    cpus_conf = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    sf_tag = str(sf).rstrip("0").rstrip(".") if sf > 0 else "unknown"
    try:
        with open(
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                f"BENCH_FULL_c{cpus_conf}_sf{sf_tag}.json",
            ),
            "w",
        ) as f:
            f.write(line + "\n")
    except OSError:
        pass  # bench output itself is the primary channel


if __name__ == "__main__":
    main()
