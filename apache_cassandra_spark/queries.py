"""The declared-query registry: the driver correctness surface.

``QUERIES`` maps each declared name to its Spark builder and ``ORACLES``
maps each exactly-checked name to the DuckDB SQL it must match. Both are
assembled from the family modules under ``apache_cassandra_spark.gates``,
where each builder shares a module with its oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from apache_cassandra_spark.gates import cass, corpus, dedup, events, media, streaming, text, tpch, vectors

# Declaration order matters: the correctness driver verifies the FIRST 50
# entries per round. Rotation policy: never-gated entries and entries whose
# implementation changed this round lead, then the entries whose newest
# driver row is oldest, core sentinels first within a cohort.
#
# Round 14 executes the round-13 verdict's prescription item 1
# verbatim: window = the 2 r9 stragglers (status_priority_matrix,
# tpch_q14ish — the ledger's oldest green rows, rolled from the r13
# window by the standing comment) + the 48-member round-11 cohort
# (48 after the text_bpe_pairs and sim_ann_lsh_exact retirements)
# = exactly 50. The r13 window (corpus_prepare_crawl + the six r10
# tpch leftovers + 43 r9 rows, all green in CORRECTNESS_r13) moves
# below as the freshest cohort; the r12 cohort is freshness-safe
# through r15 and forms the planned r15 window.
#
# The oracle-bound ledger stays EXACTLY 150 in this commit = the
# 50-slot x 3-round budget. Per the r13 verdict item 2, round 14
# registers ONE new oracle-bound gate for the r13 surface
# (web_plan_frontier, the composed discovery front door) BELOW the
# window, with its funding retirement proposed-with-receipts in the
# registering commit (see the proposal beside its QUERIES entry);
# per the standing rule the retirement executes only after verdict
# endorsement, so the ledger reads 151 between registration and the
# endorsed execution — the same transient r12 carried for
# corpus_prepare_crawl.
#
# By-design approximates (HLL, LSH/IVF ANN, k-means, GK quantiles)
# sit permanently below position 50 — they can never produce the
# hash-green rows the window's slots are for; their exact twins are
# all gated.
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # --- driver window (first 50), round-14 rotation: the two r9
    # stragglers (the ledger's oldest green rows, rolled from the r13
    # window exactly as prescribed) lead, then the 48-member round-11
    # cohort in cohort order. ---
    "status_priority_matrix": tpch.q_status_priority_matrix,
    "tpch_q14ish": tpch.q_tpch_q14ish,
    "corpus_url_revisions": corpus.q_corpus_url_revisions,
    "corpus_page_text": corpus.q_corpus_page_text,
    "corpus_outlink_graph": corpus.q_corpus_outlink_graph,
    "corpus_wet_roundtrip": corpus.q_corpus_wet_roundtrip,
    "corpus_bm25_topk": corpus.q_corpus_bm25_topk,
    "corpus_domain_boilerplate": corpus.q_corpus_domain_boilerplate,
    "dedup_prefix_containment": dedup.q_dedup_prefix_containment,
    "text_collocations": text.q_text_collocations,
    "cass_write_path": cass.q_write_path,
    "cass_lww_events": cass.q_lww_events,
    "cass_get_slice": cass.q_get_slice,
    "cass_range_slices_keys": cass.q_range_slices_keys,
    "cass_get_slice_bounded": cass.q_get_slice_bounded,
    "cass_get_slice_names": cass.q_get_slice_names,
    "cass_get_slice_reversed": cass.q_get_slice_reversed,
    "cass_lww_row_tombstones": cass.q_lww_row_tombstones,
    "cf_join": cass.q_cf_join,
    "cluster_assign": vectors.q_cluster_assign,
    "corpus_chunk": corpus.q_corpus_chunk,
    "corpus_interleave_joins": corpus.q_corpus_interleave_joins,
    "corpus_mixture": corpus.q_corpus_mixture,
    "corpus_pack_sequences": corpus.q_corpus_pack_sequences,
    "corpus_sample_importance": corpus.q_corpus_sample_importance,
    "corpus_sample_quota": corpus.q_corpus_sample_quota,
    "corpus_sample_stratified": corpus.q_corpus_sample_stratified,
    "corpus_sample_token_budget": corpus.q_corpus_sample_token_budget,
    "corpus_shard_roundtrip": corpus.q_corpus_shard_roundtrip,
    "corpus_stats": corpus.q_corpus_stats,
    "dedup_groups_star": dedup.q_dedup_groups_star,
    "dedup_within_doc": dedup.q_dedup_within_doc,
    "embedding_quantize": vectors.q_embedding_quantize,
    "events_anomaly": events.q_events_anomaly,
    "events_gap_fill": events.q_events_gap_fill,
    "events_sessionize": events.q_events_sessionize,
    "events_triangles": events.q_events_triangles,
    "media_audio_features": media.q_media_audio_features,
    "media_frame_sample": media.q_media_frame_sample,
    "prepare_corpus_full": corpus.q_prepare_corpus_full,
    "sim_range_search": vectors.q_sim_range_search,
    "streaming_dedup_replay": streaming.q_streaming_dedup_replay,
    "text_bpe_encode": text.q_text_bpe_encode,
    "text_char_entropy": text.q_text_char_entropy,
    "text_gopher": text.q_text_gopher,
    "text_pii_scrub": text.q_text_pii_scrub,
    "text_quality_score": text.q_text_quality_score,
    "text_repetition": text.q_text_repetition,
    "text_unigram_logprob": text.q_text_unigram_logprob,
    "tpch_q18ish": tpch.q_tpch_q18ish,
    # --- below the window: the ONE gate registered this round (r13
    # verdict item 2) — the composed discovery front door, the
    # fetch-plan twin of corpus_prepare_crawl. Funding retirement
    # PROPOSED in the registering commit (dedup_ngram_jaccard —
    # receipts in q_web_plan_frontier's docstring); per the standing
    # rule it executes only on endorsement, so the oracle ledger reads
    # 151 until then (the same transient r12 carried for
    # corpus_prepare_crawl). Leads the r15 window. ---
    "web_plan_frontier": corpus.q_web_plan_frontier,
    # --- the round-12 cohort (50, gated green in r12) — freshness-safe
    # through r15; forms the r15 window with the new gate leading. ---
    "corpus_warc_roundtrip": corpus.q_corpus_warc_roundtrip,
    "corpus_main_content": corpus.q_corpus_main_content,
    "corpus_robots": corpus.q_corpus_robots,
    "corpus_sitemap": corpus.q_corpus_sitemap,
    "corpus_sample_weighted": corpus.q_corpus_sample_weighted,
    "tpch_q22ish": tpch.q_tpch_q22ish,
    "events_clustering_coeff": events.q_events_clustering_coeff,
    "text_readability": text.q_text_readability,
    "events_ohlc": events.q_events_ohlc,
    "tpch_q17ish": tpch.q_tpch_q17ish,
    "tpch_q19ish": tpch.q_tpch_q19ish,
    "tpch_q21ish": tpch.q_tpch_q21ish,
    "cass_freshtimestamp_comparator_slice": cass.q_freshtimestamp_comparator_slice,
    "cass_lexicaluuid_comparator_slice": cass.q_lexicaluuid_comparator_slice,
    "basket_pairs": tpch.q_basket_pairs,
    "cluster_inertia": vectors.q_cluster_inertia,
    "columns_may_exist": cass.q_columns_may_exist,
    "corpus_domain_stats": corpus.q_corpus_domain_stats,
    "corpus_dsir_weights": corpus.q_corpus_dsir_weights,
    "corpus_overlap": corpus.q_corpus_overlap,
    "corpus_split": corpus.q_corpus_split,
    "dedup_lines": dedup.q_dedup_lines,
    "dedup_ngram_jaccard": dedup.q_dedup_jaccard,
    "dedup_prefix_jaccard": dedup.q_dedup_prefix_jaccard,
    "describe_splits": cass.q_describe_splits,
    "docs_ngram_novelty": dedup.q_docs_ngram_novelty,
    "embedding_pq_encode": vectors.q_embedding_pq_encode,
    "events_asof": events.q_events_asof,
    "events_daily_active": events.q_events_daily_active,
    "events_distinct_exact": events.q_events_distinct_exact,
    "events_funnel": events.q_events_funnel,
    "events_heavy_hitters_cm": events.q_events_heavy_hitters_cm,
    "events_interval_join": events.q_events_interval_join,
    "events_pivot": events.q_events_pivot,
    "events_range_join": events.q_events_range_join,
    "events_retention": events.q_events_retention,
    "events_rolling": events.q_events_rolling,
    "events_sliding": events.q_events_sliding,
    "media_decode_jpeg": media.q_media_decode_jpeg,
    "orders_rollup": tpch.q_orders_rollup,
    "pig_group_count": tpch.q_pig_parity,
    "rows_may_exist": cass.q_rows_may_exist,
    "semantic_dedup": dedup.q_semantic_dedup,
    "streaming_interval_join_replay": streaming.q_streaming_interval_join_replay,
    "streaming_watermark_replay": streaming.q_streaming_watermark_replay,
    "streaming_windowed_replay": streaming.q_streaming_windowed_replay,
    "text_bpe_train": text.q_text_bpe_train,
    "text_normalize": text.q_text_normalize,
    "tpch_q15ish": tpch.q_tpch_q15ish,
    "wordcount": tpch.q_wordcount,
    # --- the round-13 cohort (50 = corpus_prepare_crawl + the six r10
    # tpch leftovers + 43 r9 rows, all gated green in r13) —
    # freshness-safe through r16. ---
    "corpus_prepare_crawl": corpus.q_corpus_prepare_crawl,
    "tpch_q1ish": tpch.q_tpch_q1ish,
    "tpch_q4ish": tpch.q_tpch_q4ish,
    "tpch_q5ish": tpch.q_tpch_q5ish,
    "tpch_q10ish": tpch.q_tpch_q10ish,
    "tpch_q12ish": tpch.q_tpch_q12ish,
    "tpch_q13ish": tpch.q_tpch_q13ish,
    "cass_long_comparator_slice": cass.q_long_comparator_slice,
    "cass_multiget_slice": cass.q_multiget_slice,
    "cass_range_slices_wrapped": cass.q_range_slices_wrapped,
    "cass_read_at_ts": cass.q_read_at_ts,
    "cass_super_get_count": cass.q_super_get_count,
    "cass_super_slice": cass.q_super_slice,
    "cass_super_subcolumn_slice": cass.q_super_subcolumn_slice,
    "cass_timeuuid_comparator_slice": cass.q_timeuuid_comparator_slice,
    "cluster_kmeans_exact": vectors.q_cluster_kmeans_exact,
    "corpus_blocklist": corpus.q_corpus_blocklist,
    "dedup_embedding": dedup.q_dedup_embedding,
    "dedup_embedding_exact": dedup.q_dedup_embedding_exact,
    "dedup_exact": dedup.q_dedup_exact,
    "dedup_incremental": dedup.q_dedup_incremental,
    "dedup_minhash_lsh": dedup.q_dedup_minhash,
    "dedup_simhash": dedup.q_dedup_simhash,
    "dedup_spans": dedup.q_dedup_spans,
    "docs_coreness": dedup.q_docs_coreness,
    "docs_kcore": dedup.q_docs_kcore,
    "embedding_project": vectors.q_embedding_project,
    "events_communities": events.q_events_communities,
    "events_heavy_hitters": events.q_events_heavy_hitters,
    "events_hits": events.q_events_hits,
    "events_pagerank": events.q_events_pagerank,
    "events_props_json": events.q_events_props_json,
    "events_quantiles": events.q_events_quantiles,
    "events_salted_agg": events.q_events_salted_agg,
    "events_salted_join": events.q_events_salted_join,
    "latest_order_per_customer": tpch.q_latest_order_per_customer,
    "media_decode": media.q_media_decode,
    "media_decode_gif": media.q_media_decode_gif,
    "media_decode_png": media.q_media_decode_png,
    "media_resize": media.q_media_resize,
    "sim_pq_topk": vectors.q_sim_pq_topk,
    "sim_topk": vectors.q_sim_topk,
    "streaming_heavy_hitters_replay": streaming.q_streaming_heavy_hitters_replay,
    "streaming_lww_replay": streaming.q_streaming_lww_replay,
    "streaming_sessions_replay": streaming.q_streaming_sessions_replay,
    "text_bigram_logprob": text.q_text_bigram_logprob,
    "text_fingerprint": text.q_text_fingerprint,
    "text_lang_id": text.q_text_lang_id,
    "text_tfidf": text.q_text_tfidf,
    "text_token_stats": text.q_text_token_stats,
    # --- by-design approximates: rows-only, never hash-green; exact
    # twins windowed (events_distinct_exact r12; sim_ann_ivf_exact
    # retired r10 and sim_ann_lsh_exact retired r13 — equality of both
    # degenerate-exact ANN paths to cosine_topk pinned in tests;
    # cluster_kmeans_exact / events_quantiles gated green r13) ---
    "events_distinct_hll": events.q_events_distinct_hll,
    "sim_ann_lsh": vectors.q_sim_ann_lsh,
    "sim_ann_ivf": vectors.q_sim_ann_ivf,
    "cluster_kmeans": vectors.q_cluster_kmeans,
    "events_quantiles_approx": events.q_events_quantiles_approx,
}


#: Builders that run Spark jobs while they build (checkpoints, collects,
#: streaming replays, store writes), in registry order. Every other
#: builder only declares its plan; ``tests/test_gate_replica.py`` counts
#: each build's jobs and fails when this set and the registry disagree.
EAGER_BUILDERS: frozenset[str] = frozenset({
    "corpus_wet_roundtrip", "corpus_bm25_topk", "corpus_domain_boilerplate",
    "dedup_prefix_containment", "text_collocations", "cass_write_path", "cf_join",
    "cluster_assign", "corpus_shard_roundtrip", "dedup_groups_star",
    "prepare_corpus_full", "streaming_dedup_replay", "web_plan_frontier",
    "corpus_warc_roundtrip", "basket_pairs", "cluster_inertia", "dedup_ngram_jaccard",
    "dedup_prefix_jaccard", "describe_splits", "embedding_pq_encode",
    "events_heavy_hitters_cm", "streaming_interval_join_replay",
    "streaming_watermark_replay", "streaming_windowed_replay", "text_bpe_train",
    "corpus_prepare_crawl", "cluster_kmeans_exact", "dedup_minhash_lsh",
    "docs_coreness", "docs_kcore", "events_hits", "sim_pq_topk",
    "streaming_heavy_hitters_replay", "streaming_lww_replay",
    "streaming_sessions_replay", "text_tfidf", "cluster_kmeans",
})


ORACLES: dict[str, str] = {
    **cass.ORACLES,
    **tpch.ORACLES,
    **events.ORACLES,
    **corpus.ORACLES,
    **text.ORACLES,
    **dedup.ORACLES,
    **media.ORACLES,
    **vectors.ORACLES,
    **streaming.ORACLES,
}
