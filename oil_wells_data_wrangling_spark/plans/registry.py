"""Query registry — the single source of truth for the engine's surface.

Every operator from SURVEY.md §2 registers here as a named query:
a callable ``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible)
an equivalent ANSI-SQL oracle string that DuckDB can execute on the same
parquet tables. ``__spark_entry__.py`` re-exports this registry for the
driver's correctness gate.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None = None
    headline: bool = False  # included in bench.py's headline set


REGISTRY: dict[str, Query] = {}


def register(
    name: str, oracle: str | None = None, headline: bool = False
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn`` as query ``name`` with optional oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, headline=headline)
        return fn

    return deco


def _load_all() -> None:
    """Import every operator module so registrations run."""
    import oil_wells_data_wrangling_spark.operators.eventops  # noqa: F401
    import oil_wells_data_wrangling_spark.operators.corpus  # noqa: F401
    import oil_wells_data_wrangling_spark.operators.multimodal  # noqa: F401
    import oil_wells_data_wrangling_spark.operators.textstats  # noqa: F401
    import oil_wells_data_wrangling_spark.operators.webtable  # noqa: F401
    import oil_wells_data_wrangling_spark.operators.analytics  # noqa: F401
    import oil_wells_data_wrangling_spark.operators.privacy  # noqa: F401
    import oil_wells_data_wrangling_spark.operators.wrangle  # noqa: F401
    import oil_wells_data_wrangling_spark.operators.dedup  # noqa: F401
    import oil_wells_data_wrangling_spark.operators.similarity  # noqa: F401
    import oil_wells_data_wrangling_spark.operators.spatial  # noqa: F401
    import oil_wells_data_wrangling_spark.operators.graph  # noqa: F401
    import oil_wells_data_wrangling_spark.operators.inference  # noqa: F401
    import oil_wells_data_wrangling_spark.streaming.neardup  # noqa: F401


# The driver's CORRECTNESS gate checks the FIRST 50 queries in the
# order ``queries()`` yields them, so this list — not module import
# order — decides who gets a fresh driver-verified row this round.
# Round-13 window: (1) the FIVE operators pre-staged in r12
# (never driver-checked names MUST be in-window the round they
# register); (2) the FORTY-FIVE operators whose newest driver row is
# round 8 — the full r8 cohort, which goes stale the moment
# CORRECTNESS_r13.json is committed (upcoming R = 14, bound R-5).
# 5 new + 45 stale fills all 50 slots exactly; there is NO free slot
# for additional new registrations this round. Everything past 50
# keeps its old green row and stays covered by the identical local
# comparison in tests/test_oracle_parity.py. A name listed here but
# not registered fails loudly (KeyError) rather than silently
# shrinking the window; tests/test_plans.py asserts the rotation
# INVARIANTS (never-checked names in-window, no registrant's latest
# green row older than R-5) from the committed CORRECTNESS_r*.json
# history. The bound is R-5, not R-4, so that committing round N's
# own CORRECTNESS file (which bumps R before the N+1 rotation lands)
# cannot red the suite — the r10 round ended with exactly that one
# red, by design but noisily.
_WINDOW_PRIORITY = [
    # -- round 16 forced cohort: the 50 names whose last green
    #    CORRECTNESS row is round 11 (registry FROZEN at 250; every
    #    window from here is the full R-5 cohort, re-derived from the
    #    committed CORRECTNESS_r*.json history — matches the recorded
    #    ROUND-16 ROTATION note below exactly). Alphabetical.
    "bloom_blocklist", "curriculum_schedule", "dp_mean_clipped",
    "events_window_agg", "fim_plan", "fingerprint_diff", "group_split",
    "grpo_advantage", "hard_negative_mining", "hll_persist_incremental",
    "hll_union_daily", "html_table", "idle_rich_customers",
    "importance_resample", "incremental_rollup", "join_region_rollup",
    "join_revenue_topn", "json_props", "kcenter_select",
    "lang_mismatch_matrix", "late_shipment_priority",
    "license_classify", "mix_balance", "mm_audio_chunks",
    "mm_caption_align", "mm_frame_sample", "mm_meta", "mm_resize",
    "moe_router_stats", "mrl_recall_eval", "neardup_incremental",
    "pca_top_component", "preference_bt", "rarity_score", "rrf_fusion",
    "scd2_apply", "scd2_attribution", "secrets_scan",
    "semdedup_clusters", "soft_dedup_weights", "stream_cdc_apply",
    "stream_crawl_corpus", "text_augment_plan", "top_supplier_revenue",
    "ulm_tokenize", "ulm_train_steps", "vocab_coverage",
    "warc_dedup_digest", "window_rank", "window_running",
]


def _ordered() -> dict[str, Query]:
    _load_all()
    out = {name: REGISTRY[name] for name in _WINDOW_PRIORITY}
    for name, q in REGISTRY.items():
        if name not in out:
            out[name] = q
    return out


def all_queries() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in _ordered().items()}


def all_oracle_sql() -> dict[str, str]:
    return {
        name: q.oracle for name, q in _ordered().items() if q.oracle is not None
    }


def headline_queries() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in _ordered().items() if q.headline}


# ---------------------------------------------------------------------------
# REGISTRY CAPACITY POLICY (decided r13, per the r12 verdict):
# steady-state re-verification capacity is 50 window slots × 5 rounds
# (the R-5 staleness bound) = 250 registered operators. After the
# round-13 activation the registry holds 248. Policy: §2 registration
# is CAPPED AT 250 — at most TWO further operators may ever register,
# and only if each clearly beats every existing operator on novelty
# (no near-duplicates; the `stratified_sample` precedent applies).
# From r14 on, rounds spend their effort on DEPTH (perf evidence,
# long-stream proofs, learned-index quality) and on §2.E connector /
# serving components, which are unit-tested and take no window slot.
# Retire-and-replace is allowed (drop a near-duplicate id, register a
# replacement) but the 250 cap is absolute — the rotation-invariant
# test in tests/test_plans.py enforces the capacity math.
#
# ROUND-16 ROTATION, FORCED (recorded r15; APPLIED: _WINDOW_PRIORITY
# above is exactly this set): the r16 window IS the r11 cohort — the
# 50 names whose latest green CORRECTNESS row is round 11
# (CORRECTNESS_r15 re-greens the r10 cohort and cannot change this
# set; re-derive from the committed CORRECTNESS_r*.json history as
# tests/test_plans.py::_driver_row_history does to confirm):
#   bloom_blocklist, curriculum_schedule, dp_mean_clipped,
#   events_window_agg, fim_plan, fingerprint_diff, group_split,
#   grpo_advantage, hard_negative_mining, hll_persist_incremental,
#   hll_union_daily, html_table, idle_rich_customers,
#   importance_resample, incremental_rollup, join_region_rollup,
#   join_revenue_topn, json_props, kcenter_select,
#   lang_mismatch_matrix, late_shipment_priority, license_classify,
#   mix_balance, mm_audio_chunks, mm_caption_align, mm_frame_sample,
#   mm_meta, mm_resize, moe_router_stats, mrl_recall_eval,
#   neardup_incremental, pca_top_component, preference_bt,
#   rarity_score, rrf_fusion, scd2_apply, scd2_attribution,
#   secrets_scan, semdedup_clusters, soft_dedup_weights,
#   stream_cdc_apply, stream_crawl_corpus, text_augment_plan,
#   top_supplier_revenue, ulm_tokenize, ulm_train_steps,
#   vocab_coverage, warc_dedup_digest, window_rank, window_running
# Applied: _WINDOW_PRIORITY is exactly this set (alphabetical); from
# here, depth + §2.E only.
# ---------------------------------------------------------------------------
# ROUND-15 ROTATION, FORCED (recorded r14): the registry is FROZEN at
# 250 and every cohort from here is exactly 50 names, so each round's
# window is fully determined — r15's window IS the r10 cohort (the 50
# names whose latest green driver row is round 10: read them from the
# committed CORRECTNESS_r*.json history exactly as
# tests/test_plans.py::_driver_row_history does). Computed from the
# r01–r13 history at r14 time (re-derive to confirm; CORRECTNESS_r14
# re-greens the r9 cohort and cannot change this set):
#   ann_pq_trained, approx_distinct, approx_percentiles, bigram_lift,
#   blocklist_filter, bm25_topk, bpe_train_batched, bpe_train_steps,
#   contamination_report, correlated_avg_filter, crawl_to_corpus,
#   custdist, dataset_card_stats, dedup_cross,
#   disjunctive_filter_revenue, distinct_count, domain_pagerank,
#   dpo_pairs, dup_ngram_fraction, embedding_outliers,
#   events_attribution, events_distinct_windowed, events_enrich,
#   events_rate_limit, events_topk, events_transitions, html_to_text,
#   l_diversity_report, link_hits, mix_schedule, pq_train,
#   sample_corpus, sft_pack, shard_stats, simhash_pairs,
#   span_corruption, sql_serving, stratified_sample,
#   stream_warc_ingest, text_chunks, tfidf_topk, token_count,
#   tokenizer_vocab_prune, train_val_split, url_canonical, url_stats,
#   vector_normalize, vocab_topk, warc_pipeline, zorder_stats
# Zero free slots every round from now on; rounds spend effort on
# DEPTH and §2.E.
# ---------------------------------------------------------------------------
# ROUND-14 ROTATION (ACTIVATED r14 — registry now FROZEN at the 250
# cap; staging notes kept for the audit trail). The r9 cohort is 48 names, so
# r14 has exactly 2 free slots — the registry's FINAL two under the
# cap. BOTH are pre-staged at the full bar (implementation + DuckDB-
# parity + brute-force/ground-truth property tests + plan-shape pins
# in tests/test_prestaged_r14.py + BASELINE scale rows, all landed in
# r13, novelty-checked against all 248 registered names):
#   - dup_spans_exact   (operators/dedup.py — EXACT Lee-et-al-class
#                        duplicated-substring spans at threshold L=8
#                        via duplicated-L-gram islands; closes the
#                        "true suffix-array substring dedup" gap
#                        winnow_dup_spans stood in for; oracle
#                        DUP_SPANS_EXACT_ORACLE)
#   - kv_prefix_sharing (operators/inference.py — radix/prefix-cache
#                        sizing over request logs via the LEVEL-SUM
#                        trie identity (sort-free, window-free —
#                        three forms measured, BASELINE r13); first
#                        operator on the prefix-sharing axis; oracle
#                        KV_PREFIX_SHARING_ORACLE)
# The r14 builder's first commit: @register both, add their SURVEY §2
# rows (248 → 250 — REGISTRY FROZEN), and lead _WINDOW_PRIORITY with
# them + the 48-name r9 cohort (2 + 48 = all 50 slots, window exactly
# full). From r15 on: zero free slots every round (r10/r11 cohorts
# are 50 each) and the cap is reached — depth and §2.E only.
# ---------------------------------------------------------------------------
# ROUND-13 ROTATION (activated this round; staging notes kept for the
# audit trail). The r8 cohort is 45 names, so
# r13 has ≤5 free slots; ALL FIVE are pre-staged at the full bar
# (implementation + DuckDB-parity tests in tests/test_prestaged_r13.py
# + BASELINE scale rows, all landed in r12):
#   - compact_table       (operators/spatial.py — small-file compaction
#                          with file-count + key-bbox evidence)
#   - trace_tool_calls    (operators/inference.py — agentic tool-call
#                          trace validation/stats, from_json corrupt-
#                          record parity)
#   - stream_asof_join    (operators/eventops.py — asof_join's custom-
#                          stateful streaming twin; dual TWS/legacy
#                          impls in streaming/events.py:stream_asof)
#   - chat_turns_audit    (operators/corpus.py — multi-turn SFT
#                          transcript hygiene: role alternation +
#                          opening-turn violations per source)
#   - specdecode_accept   (operators/inference.py — speculative-
#                          decoding acceptance analytics over logged
#                          draft/target streams: per-block prefix
#                          acceptance, per-source permille)
# (An earlier fifth candidate, a per-source exact-k hash-rank
# sampler, was built and DROPPED in-round: `stratified_sample`
# already exists in the registry with the same semantics per lang —
# near-duplicate, not worth a window slot. specdecode_accept was
# checked against the registry for novelty before building.)
# The r13 builder's first commit: @register the five (oracles are
# COMPACT_TABLE_ORACLE / TRACE_TOOL_CALLS_ORACLE / STREAM_ASOF_ORACLE
# / CHAT_TURNS_ORACLE / SPECDECODE_ORACLE next to each
# implementation), add their SURVEY §2 rows (243 → 248), and lead
# _WINDOW_PRIORITY with them + the 45-name r8 cohort (5 + 45 = all
# 50 slots — the window is exactly full, NO other new registration
# fits r13). Steady-state capacity is 50×5 = 250 registered
# operators — grow §2.E (connectors/serving, unit-tested rather than
# oracle-checked) past that, not §2.
