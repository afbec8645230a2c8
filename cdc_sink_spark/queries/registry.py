"""Aggregated query/oracle registry across all suites (SURVEY §2).

Registration order matters: the driver's correctness gate checks the first
50 keys of ``queries()``. Round 9 gated only analytic+tpch_extra+cdc-head,
leaving the entire training-data suite (textops/vectors/runtime) without
driver evidence. We therefore register an explicit PRIORITY list first —
the previously-ungated families plus the six oracles fixed this round —
then everything else in suite order. All suites are imported
unconditionally: a broken module must fail the gate loudly, not silently
shrink it (round-9 advice, registry.py item).
"""

from __future__ import annotations

from cdc_sink_spark.queries import analytic, cdc, runtime, textops, tpch_extra, vectors

_SUITES = (analytic, tpch_extra, cdc, textops, vectors, runtime)

_ALL_QUERIES: dict = {}
_ALL_ORACLES: dict = {}
for _mod in _SUITES:
    _ALL_QUERIES.update(_mod.QUERIES)
    _ALL_ORACLES.update(_mod.ORACLES)

# First 50 keys = the external correctness gate's window. Rotation
# policy: keys changed since their last gate evidence lead, most
# recently changed group first; then the evidence-oldest remainder
# (r11/r12 gate-green, untouched), whose last keys rotate out to make
# room. All 50 carry oracles — the 3 rows-only keys (streaming_*,
# multimodal) are OUT of the window (r13 VERDICT item 5: a rows-only
# key burns a sample slot that can never hash_match). The local gate
# (tools/check_correctness.py) still covers all 121 keys every round.
_PRIORITY = [
    # -- touched this round (serial sequencer: one frontier, one apply)
    "seq_serial_batch", "multi_table_temporal_batch",
    # -- rewritten to compare microseconds, no gate evidence since
    "events_sessionize", "range_join_bucketed",
    # -- touched last round (versioned artifacts, memo compaction)
    "dedup_incremental", "objstore_scan_apply",
    # -- r13-rewritten, never driver-oracle-checked since the rewrite
    "ngram_jaccard_pairs", "containment_pairs", "tfidf_top_terms",
    "q11_important_parts", "unigram_logprob_score", "repetition_score",
    "semantic_dedup", "kmeans_refine_step", "ann_ivf_probe",
    "quantize_embeddings_int8",
    # -- touched in round 14
    "dedup_simhash_pairs", "dedup_cc_star",
    "dedup_connected_components", "q1_pricing_summary",
    "conveyor_end_to_end", "apply_upsert_delete",
    # -- other r13-touched keys outside the r13 window (local-gate-only)
    "ann_ivf_assign", "bm25_topk", "token_drift_tv", "dedup_minhash_lsh",
    "dedup_simhash", "lsh_recall_eval", "bigram_merge_frequencies",
    "boilerplate_ngram_fraction", "decontaminate_ngram_overlap",
    "quality_prune_percentile", "dedup_keep_best_quality", "dedup_keep_list",
    "embedding_near_dup", "pca_power_iteration", "webhook_parse_envelope",
    "cdc_parse_ndjson", "mutation_dedup_last_wins", "pack_sequences",
    # -- evidence-oldest remainder (r11/r12 driver evidence, untouched)
    "dedup_exact", "domain_mix_weights", "hlc_order",
    "pii_pattern_scan", "q12_ship_lag_priority",
    "q16_supplier_part_counts", "q20_promo_part_suppliers",
    "q21_waiting_supplier", "script_fanout_dispatch",
    "snapshot_diff_feed",
]
# Rotated out (r13 gate-green — see CORRECTNESS_r13.json — and
# untouched since; the local gate still checks every key every round):
# the whole r13 window head (q13/q2/q8/q9, html_extract_text,
# cdc_chunk_dedup, ann_topk_bruteforce, ann_lsh_bucketed,
# doc_fingerprint, token_count, quality_score, lang_id,
# length_bucket_histogram, stratified_sample, merge_three_way
# family, seq_besteffort_dlq, apply_schema_evolution, the analytic/
# TPC-H tier q3..q22, the other events_*, asof joins, value_*),
# table_checksum_chunks and training_shuffle_shards, plus
# streaming_mode_switch (rows-only, moved out of the window per r13
# VERDICT item 5 so the driver samples 50 checkable keys).

QUERIES: dict = {}
ORACLES: dict = {}
for _k in _PRIORITY:
    QUERIES[_k] = _ALL_QUERIES[_k]
    if _k in _ALL_ORACLES:
        ORACLES[_k] = _ALL_ORACLES[_k]
for _k, _v in _ALL_QUERIES.items():
    if _k not in QUERIES:
        QUERIES[_k] = _v
for _k, _v in _ALL_ORACLES.items():
    if _k not in ORACLES:
        ORACLES[_k] = _v
