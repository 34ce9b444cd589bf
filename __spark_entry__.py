"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001; ``queries()`` maps
every implemented operator (SURVEY.md §2 + corpus-curation extensions) to
a ``(spark, sf_dir) -> DataFrame`` callable; ``oracle_sql()`` holds the
DuckDB-equivalent SQL for each, hash-compared by the driver at sf0.01.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from openplacereviews_db_spark.plans import (corpus, events_analytics,
                                             graph, history, merge_plans,
                                             oplog, pipeline, places_reports,
                                             relational, relational2, scoring,
                                             sketches, sync_plans, temporal)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return relational.q1_pricing_summary(spark, "/root/testdata/sf0.001")


#: The driver samples the FIRST 50 ``queries()`` entries per round, so
#: insertion order decides which queries get driver-grade correctness
#: evidence.  Round 14 continues the rotation (r13 verdict item 1):
#: the 6 r9-stale queries deferred at the r13 cut lead the window,
#: then dd_minhash_lsh + dd_incremental (their verify plans changed
#: this round — the int16 tier-1 transfer; plan changes get fresh
#: driver evidence the round they land), then 42 of the 49 r10-cohort
#: queries backfill the window in staleness order.  After this sample
#: no query's evidence predates r10.  The 7 r10 queries deferred at
#: the cut (a4_place_types, id_bytes_roundtrip, j6_anti_join,
#: j7_semi_join, o1_distance_topk, s7_keys_scan, tx_token_counts —
#: trivial-plan tail) lead the r15 rotation, then r11/r12/r13 cohorts
#: in staleness order.
#:
#: Every name here must be registered on every machine.  A query that
#: registers only under a condition stays off this list and follows it
#: in ``queries()`` with the other unlisted queries; today that is only
#: ``m12_fixture_verdicts``, which needs the reference merge corpus
#: (``sources/ref_fixtures.fixtures_available()``).
_DRIVER_PRIORITY = [
    # (a) r13 verdict item 1: the 6 queries whose latest driver
    # evidence is r9 — the oldest left in the contract — lead the
    # window (positions 0-5).
    "tx_shard_manifest", "tx_url_canon", "tx_weighted_sample",
    "x22_bucketed_lookup", "x77_salted_join", "x92_retract_rollup",
    # (a2) plan-changed this round — fresh driver evidence the round
    # the plan lands: jaccard_prebound became the exact integer cutoff
    # and the candidate-join verifies moved onto tiered_jaccard_verify,
    # which touches dd_minhash_lsh (re-pinned inline after the sf100
    # A/B), dd_incremental, dd_ngram_jaccard, and dd_dup_groups;
    # st_neardup_pairs shares the change and already sits in the r10
    # cohort below.  The r14 OPTIMIZATION pass changed two more plans
    # outside the window (the invariant-report checkpoint in
    # history_report; the st_stream_join state-store sizing) — they
    # join the plan-changed block (curate_corpus, g2_proximity_groups,
    # st_neardup_pairs and the simhash family also changed and already
    # sit inside the window).
    "dd_minhash_lsh", "dd_incremental", "dd_ngram_jaccard",
    "dd_dup_groups", "history_report", "st_stream_join",
    # (b) the r10 cohort backfills the window: 38 of its 49 queries
    # (positions 12-49).
    "a1_area_summary", "a2_images_size", "ann_cosine_topk",
    "ann_ivf_topk", "ann_knn_label", "curate_corpus",
    "dd_dup_spans", "dd_exact", "dd_simhash",
    "dd_simhash_pairs", "e1_snapshot_diff",
    "e9_extract_diff", "emb_neardup_lsh", "g1_sessionize",
    "g2_proximity_groups", "g9_pagerank", "geoall_area_summary",
    "j10_latest_event", "j1_argmax_join", "j4_fuzzy_name_join",
    "j4_match_cascade", "j5_pick_merges", "m10_tripadvisor_ops",
    "m1m4_sync_ops", "m6_close_report", "mm_decode_stats",
    "mm_feature_codes", "mm_sample_frames", "p2_main_osm_element",
    "q3_segment_topk", "q5_region_revenue", "s17_schema_evolution",
    "s9_inverse_index_lookup", "st_neardup_pairs", "tx_bm25",
    "tx_fingerprints", "tx_keyword_search", "tx_language_id",
    # --- 50-slot cut line: 6 + 6 + 38 = 50.  The 11 r10 queries
    # deferred at the cut (the 7 below + d3_aligned_windows,
    # e3_intersect_keys, tx_quality_score and w2_event_deltas,
    # displaced by the four plan-changed r14 adds) lead the r15
    # rotation.
    "tx_quality_score", "w2_event_deltas",
    "a4_place_types", "d3_aligned_windows", "e3_intersect_keys",
    "id_bytes_roundtrip", "j6_anti_join",
    "j7_semi_join", "o1_distance_topk", "s7_keys_scan",
    "tx_token_counts",
    # r11-green cohort (freshest evidence — yield their slots)
    "d1_date_kit", "dd_apply", "dd_apply_best",
    "dd_dup_spans_apply",
    "emb_hard_negatives", "emb_kmeans", "emb_pq_encode", "emb_rp_project",
    "g10_spatial_join", "g11_triangle_count", "g3_tile_grid",
    "j13_interval_join", "j2_proximity_pairs",
    "p10_name_tags", "p12_mercator_tiles",
    "p2_main_element", "s19_osm_datasource", "s6_osm_export",
    "sk_bottomk_rollup", "sk_hll_distinct", "sk_hll_rollup",
    "sk_kmv_setops", "st_enrich_join", "st_exact_dedup",
    "t1_text_kit", "tx_bpe_encode", "tx_bpe_vocab", "tx_group_split",
    "tx_outlier_trim", "udf_expr_matchid", "w1_running_total",
    "x63_compact_roundtrip", "x64_bloom_prune", "x65_hierarchy_flatten",
    "x66_ewma_features", "x68_event_transitions", "x69_ri_audit",
    "x71_scd2_build", "x72_gapfill_locf", "x74_partition_prune",
    "x75_smb_join", "x76_dynamic_prune", "x81_scd2_asof",
    "x82_bitmap_days",
    # r12-green cohort (freshest evidence — yield their slots)
    "g13_hex_bin", "st_hll_distinct", "s1_osm_xml_roundtrip",
    "s5_staged_scan", "s2_diff_roundtrip", "w4_range_frame", "w5_rank_kit",
    "a13_agg_kit", "a11_pivot_matrix", "a12_unpivot_roundtrip",
    "m11_asof_snapshot", "emb_neardup_hi",
    "a10_array_hof", "a5_merge_counters", "e2_config_delta",
    "g4_simplify_ways", "g5_way_stats", "g6_points_in_triangle",
    "j3_border_correct", "j7_history_full_check",
    "m5_merge_ops", "m7_migrate_ids", "m8_placetype_ops",
    "m9_apply_changelog", "o6_skyline", "p11_json_extraction",
    "p4_history_features", "p6_change_classification",
    "p7_review_candidates", "q16_distinct_count", "s13_geojson_features",
    "s14_pack_ops", "s15_merge_upsert", "s4_adaptive_split",
    "sk_heavy_hitters", "st_event_rollup", "st_sessionize",
    "st_user_totals", "tx_boilerplate", "tx_decontaminate",
    "tx_pii_scrub", "tx_repetition",
    "tx_stratified_sample", "tx_tfidf_topk", "udtf_bigram_expand",
    "x84_twap", "x85_event_paths", "x86_merkle_diff", "x87_window_dedup",
]



def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    merged.update(relational.QUERIES)
    merged.update(corpus.QUERIES)
    merged.update(oplog.QUERIES)
    merged.update(places_reports.QUERIES)
    merged.update(merge_plans.QUERIES)
    merged.update(relational2.QUERIES)
    merged.update(history.QUERIES)
    merged.update(sync_plans.QUERIES)
    merged.update(pipeline.QUERIES)
    merged.update(temporal.QUERIES)
    merged.update(sketches.QUERIES)
    merged.update(scoring.QUERIES)
    merged.update(graph.QUERIES)
    merged.update(events_analytics.QUERIES)
    out = {n: merged[n] for n in _DRIVER_PRIORITY if n in merged}
    out.update(merged)
    return out


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    out.update(relational.ORACLES)
    out.update(corpus.ORACLES)
    out.update(oplog.ORACLES)
    out.update(places_reports.ORACLES)
    out.update(merge_plans.ORACLES)
    out.update(relational2.ORACLES)
    out.update(history.ORACLES)
    out.update(sync_plans.ORACLES)
    out.update(pipeline.ORACLES)
    out.update(temporal.ORACLES)
    out.update(sketches.ORACLES)
    out.update(scoring.ORACLES)
    out.update(graph.ORACLES)
    out.update(events_analytics.ORACLES)
    return out
