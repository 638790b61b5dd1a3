"""Query suites — the driver-facing registry.

Each suite module exposes:
  QUERIES: dict[name, Callable[[SparkSession, sf_dir], DataFrame]]
  ORACLES: dict[name, str]   # DuckDB ANSI SQL over the fixture views

`__spark_entry__.py` aggregates every suite. Names are the operator names
from SURVEY.md §2. A query without an oracle entry gets the driver's weaker
rows-only check (reserved for genuinely non-SQL-expressible ops).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


SUITE_MODULES = (
    "vector_suite",
    "maintenance_suite",
    "relational_suite",
    "relational_extra_suite",
    "tpch_suite",
    "events_suite",
    "dedup_suite",
    "text_suite",
    "multimodal_suite",
    "similarity_suite",
    "sources_suite",
    "pipeline_suite",
    "composed_suite",
    "sketch_suite",
    "graph_suite",
)

# The grading driver checks only the FIRST 50 registry entries, so ordering
# decides which SAMPLE of the registry gets a driver correctness row this
# round. The driver window is a sample, NOT the verification gate: the gate
# is `tools/oracle_check.py` (dtype-faithful since r03), which runs ALL
# registry queries against their DuckDB oracles locally every round and
# whose result is committed as CORRECTNESS_LOCAL_r{N}.json. Rotation policy:
# (a) queries whose implementation or oracle changed this round come first,
# (b) then queries with the OLDEST driver row (re-earn a row over time),
# (c) everything else keeps its newest green row and cycles next round.
#
# Round 10 (VERDICT r09 #1/#3/#4): the registry folded 193 -> 161 rows
# (suites/_fold.py; sketch 23->7, knn batch 4->1, window 5->1, scalar
# 4->1, grouping 3->1, sources-roundtrip 3->1, agg-approx 3->1, rrf
# batch folded into hybrid_search_rrf), which removed 34 of the 93
# driver-stale rows outright. The window below = 1 changed row
# (hybrid_search_rrf: schema changed by the fold, impl changed by the
# triangular-rank rebuild) + the 12 never-driver-checked rows (the 11
# fold names + index_upsert_capacity, which carries the AMS/CMS/Bloom
# fresh-row mandate of r09 #4 inside sketch_ams/sketch_cms/sketch_bloom)
# + ALL 37 surviving r05-stale rows (events_sessionize first,
# verdict-named). The remaining stale debt (r06 block) fully fits the
# r11 window: 161 rows / 50 slots cycles in 4 windows with ~stale-free
# steady state at threshold cur-2 once this round's debt drains.
# tools/rotation_check.py enforces "no wasted slots": every window slot
# must hold a stale, never-checked, or POLICY_A row while debt exists.

# ROTATION CADENCE POLICY for a 200+-row registry (VERDICT r12 #3, cycle
# bound amended r14 per VERDICT r13 #4 with the arithmetic written down;
# tools/rotation_check.py encodes the enforceable parts):
#   * Cycle arithmetic (the reason the bound is cur-5, not cur-4): at
#     209 registry rows a 50-slot window needs 209/50 = 4.18 rounds of
#     pure re-earning — already past an exact 4-round fit — and in
#     practice each window spends ~2-12 slots on POLICY_A, flagship-
#     guard, directive, and never-checked rows (r13 spent 16, r14
#     spends 8), so the effective stale-re-earn rate is ~40-48
#     slots/round and a full cycle is ceil(209/~44) = 5 rounds. Growth
#     of ~2-7 rows/round stays inside that bound up to ~240 rows
#     (240/48 = 5.0); past that, fold sibling rows (suites/_fold.py)
#     before stretching the bound again. Steady state: the staleness
#     histogram must never show a checked bucket older than cur-5 —
#     rotation_check enforces this like the flagship guard (assuming
#     the committed window earns at cur+1, no row outside the window
#     may be older than (cur+1)-5).
#   * Slot priority, top to bottom:
#       1. POLICY_A rows (implementation/oracle changed this round) — a
#          changed row's old stamp proves nothing about the new code;
#       2. flagship-tier rows the guard forces in (a §2.A flagship row
#          may never exceed 2 rounds driver-stale);
#       3. never-driver-checked rows (new rows jump the queue — a row
#          with NO stamp outranks one with merely an old stamp);
#       4. oldest-basis stale rows, alphabetical within a round-bucket.
#   * Rows added AFTER the round's window is frozen queue for the next
#     window (the late-r12 precedent) — they do NOT evict an already-
#     rotated stale row mid-round unless a directive demands a driver
#     stamp this round (then they displace the BOTTOM stale slot, which
#     heads the next queue).
#   * If registry growth pushes the cycle past 5 rounds (~240 rows at
#     the measured re-earn rate — see the arithmetic above), fold
#     sibling rows into parameterized twins (suites/_fold.py machinery)
#     rather than stretching the bound again — silent cycle stretch is
#     the r08 failure mode, and rotation_check's MAX_AGE tripwire makes
#     it loud.
#   * The boundary comment below the 50th slot always carries the next
#     window's queue so the rotation commit is a copy-paste.

# Rows whose implementation/oracle changed THIS round (rotation policy
# (a)); rotation_check treats these as legitimate window occupants even
# while stale rows wait. Keep this list honest — it is the audit trail
# for why a fresh row occupies a slot ahead of a stale one.
# r16: exact_dedup_substring_spans carries the ADVICE r15 fix (explicit
# F.broadcast hint on the dup-shingle left-semi join so the pinned
# BroadcastHashJoin shape is deterministic rather than size-estimate-
# dependent). It is ALSO never-driver-checked (added r15 after that
# window froze), so its slot is legitimate twice over.
POLICY_A = (
    "exact_dedup_substring_spans",
)

DRIVER_PRIORITY = (
    # Round 16 window (VERDICT r15 #1, rotated as the FIRST commit of
    # the round). The firing guard at the r15 at-rest tree demands
    # exactly the composition the r15 boundary comment pre-wrote (the
    # comment and the guard agree this round — the r15 lesson applied):
    # 1 flagship + 2 never-checked r15 growth rows + all 21 remaining
    # r11-stale rows (the r11 bucket is EMPTY after this window) + the
    # 26 oldest alphabetical r12 rows = exactly 50.
    # §2.A flagship tier (stamped r13 — outside the 2-round bound):
    "knn_search_batch",
    # never driver-checked (the two r15 growth rows; both green at
    # sf0.01+sf0.1 in the committed r15 sweeps and both ★-re-oracled by
    # the judge; exact_dedup_substring_spans additionally carries the
    # r16 POLICY_A broadcast-hint fix):
    "events_ks_value_drift_by_type",
    "exact_dedup_substring_spans",
    # r11-stale (the full remaining 21-row bucket — at the MAX_AGE=5
    # cadence bound; leaving any of these out trips the tripwire):
    "graph_label_propagation",
    "graph_pagerank_parts",
    "graph_triangle_count",
    "index_upsert",
    "ivm_incremental_agg",
    "layout_file_skipping",
    "layout_hilbert_clustering",
    "layout_zorder_clustering",
    "mixture_temperature_resample",
    "multimodal_container_properties",
    "multimodal_decode_gif_animation",
    "near_dedup_containment_prefix",
    "near_dedup_edit_distance",
    "sample_domain_quota",
    "sketch_bloom_join_prune",
    "sketch_quantile_clip_outliers",
    "source_schema_evolution",
    "text_bm25_topk_joins",
    "text_bpe_learn_merges",
    "text_bpe_tokenize",
    "topk_per_group_salted",
    # r12-stale rows, alphabetical (first 26 of the 42-row bucket):
    "ann_mmr_rerank_topn",
    "events_asof_nearest_view",
    "events_cusum_drift",
    "events_decayed_leaderboard",
    "graph_bfs_hop_distances",
    "ivm_retract_cdc_backlog",
    "ivm_retractable_delta",
    "llm_corpus_pipeline",
    "multimodal_decode_audio",
    "multimodal_decode_webp_lossless",
    "multimodal_sample_video_frames",
    "multimodal_thumbnail_meta",
    "near_dedup_cc_clusters",
    "near_dedup_clusters",
    "near_dedup_simhash",
    "pack_token_budget",
    "shuffle_epoch_order",
    "simhash_fingerprints",
    "sketch_heavy_hitters_grouped",
    "sketch_heavy_hitters_verified",
    "sketch_kmv_distinct",
    "source_compact_small_files",
    "source_partitioned_parquet",
    "split_train_val_test",
    "status_counts",
    "text_char_ngram_stats",
    # --- 50-slot window boundary ---
    # r17 window plan — run rotation_check with CORRECTNESS_r16.json
    # present and follow the GUARDS (standing lesson), but the expected
    # arithmetic: no flagship violation at r17 (the 8 non-batch §2.A
    # rows were stamped r15, inside the 2-round bound at r17;
    # knn_search_batch re-stamps r16 in this window), so the r17 window
    # = the 2 rows registered at r16 and never driver-checked
    # (events_mwu_value_drift_by_type + events_psi_value_drift_by_type
    # — the grouped drift trio's MWU and PSI members, which jump the
    # queue per the cadence policy) + the 16 remaining r12-stale rows
    # below (after them the r12 bucket is EMPTY) + the oldest
    # alphabetical r13-stale rows to fill 50 (the r13 bucket is the
    # old r13 window, 50 rows, minus knn_search_batch re-stamped here
    # = 49 candidates; 2 + 16 + 32 oldest alphabetical r13 = 50).
    # Registry-growth margin (VERDICT r15 #4): at 215 rows (216-217
    # after the r16 registrations) the written cur-5 arithmetic holds
    # to ~240 rows at the measured ~44-slot re-earn rate, leaving
    # ~23 rows of margin — no fold needed yet, watch again at r17; if
    # any round pushes past ~225, start folding TPC-H siblings via
    # suites/_fold.py preemptively.
    # r12-stale, did not fit this window (16):
    "text_corpus_stats",
    "text_gopher_quality_audit",
    "text_inverted_index",
    "text_length_histogram",
    "text_phrase_search",
    "text_pii_redaction",
    "text_repetition_scores",
    "text_url_domains",
    "tpch_q10_returned_items",
    "tpch_q14_promo_revenue",
    "tpch_q18_large_volume_customer",
    "tpch_q6_forecast_revenue",
    "unpivot_lineitem_metrics",
    "update_existing",
    "update_skipped",
    "vector_dedup_quantize",
)


def merged() -> tuple[dict[str, QueryFn], dict[str, str]]:
    import importlib

    suites = []
    for mod_name in SUITE_MODULES:
        try:
            suites.append(
                importlib.import_module(f"executor_u1mindexer_spark.suites.{mod_name}")
            )
        except ModuleNotFoundError as e:
            # Only tolerate the suite module itself not existing yet;
            # a broken import inside a suite must fail loudly.
            if e.name != f"executor_u1mindexer_spark.suites.{mod_name}":
                raise
    queries: dict[str, QueryFn] = {}
    oracles: dict[str, str] = {}
    for s in suites:
        for k in s.QUERIES:
            if k in queries:
                raise ValueError(f"duplicate query name {k!r}")
        queries.update(s.QUERIES)
        oracles.update(s.ORACLES)
    unknown = set(oracles) - set(queries)
    if unknown:
        raise ValueError(f"oracles without queries: {unknown}")
    missing = [n for n in DRIVER_PRIORITY if n not in queries]
    if missing:
        raise ValueError(f"DRIVER_PRIORITY names without queries: {missing}")
    ordered = list(DRIVER_PRIORITY) + [n for n in queries if n not in set(DRIVER_PRIORITY)]
    queries = {n: queries[n] for n in ordered}
    oracles = {n: oracles[n] for n in ordered if n in oracles}
    return queries, oracles
