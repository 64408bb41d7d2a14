"""Central query registry: merges every module's (queries, oracles) pair.

``__spark_entry__.py`` (the driver contract) is a thin shim over this module.
Each ops/queries/llm/streaming module exports

- ``QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]]``
- ``ORACLES: dict[str, str]`` — DuckDB-runnable ANSI SQL twins; a query
  without an oracle entry gets the driver's weaker rows-only check (reserved
  for genuinely non-SQL-expressible ops: sketches, LSH, streaming state).

Names must be globally unique; the merge asserts it.
"""
# (registry count r14: 206 — r13 closed at 198; r14 adds, as tail
# additions, vocab_prefix_postings / phrase_multi_search_postings /
# boolean_search_postings /
# kwic_snippets_postings / retrieval_delete_search (llm/retrieval.py —
# n-token repeated-token phrase match, boolean AND+NOT retrieval,
# keyword-in-context snippets, and the index-lifecycle delete
# certificate, each oracled directly against raw text),
# stream_index_append (NEW module llm/retrieval_stream.py
# — exactly-once streaming index maintenance over the stored-index
# append, stales nothing), benchmark_leak_report (NEW module llm/deconreport.py —
# the eval-side exact-leakage audit twin of the bloomdecon gate,
# stales nothing) and proximity_search_postings (llm/retrieval.py, a module the
# r14 window already re-certifies in full): windowed co-occurrence
# answered by PARSING the segmented index — the unordered
# generalization of the phrase row, oracled directly against the raw
# text so the hash binds the text→index→parse→distance round trip)
# (history — r13: 198 — r12 closed at 195; r13 adds
# inverted_index_postings_sharded (llm/retrieval.py), the scale-safe
# segmented twin of inverted_index_postings — in a module the r13
# window already leads with, per the ledger rule — plus, as a tail
# addition, phrase_search_postings (same module): exact-phrase match
# answered by PARSING the segmented index, oracled directly against
# the raw text, so the hash binds the text→index→parse→match round
# trip) and bm25_topk_queries (same module): batched multi-query
# top-k BM25 via a salted two-phase rank — no one-task-per-query
# global sort; the oracle replays the semantics with one plain
# window per query
# (history — r12: 195 — r11 closed at 188 with twelve tail
# entries: eleven new-module rows plus one scale twin
# (knn_classify_ivf); r12 adds pmi_cooccurrence_floored (llm/cooc.py),
# novelty_gate_docs (llm/novelty.py) and dsir_gate_docs (llm/dsir.py)
# — all in modules already staled this round by the r11 VERDICT/ADVICE
# fixes, per the ledger rule — plus four rows in NEW modules (stale
# nothing): heavy_hitters_tokens (llm/heavy.py), mad_outliers
# (ops/outliers.py), bm25_score_docs and inverted_index_postings
# (llm/retrieval.py))

from __future__ import annotations

from collections.abc import Callable
from functools import cache

from pyspark.sql import DataFrame, SparkSession

from .io import txn_queries, warc_datasource
from .llm import (
    bloomdecon,
    clf_gate,
    cooc,
    curation_queries,
    deconreport,
    dedup,
    dsir,
    fim,
    h264_queries,
    heavy,
    knn,
    linkgraph,
    mixture,
    multimodal,
    novelty,
    pq,
    retrieval,
    retrieval_stream,
    sampling,
    similarity,
    substring_queries,
    textstats,
    tokenize,
    training,
)
from .ops import (
    aggregates,
    attribution,
    collections,
    events,
    fuzzy,
    graph,
    joins,
    layout,
    macros,
    outliers,
    relational,
    skew,
    sketch_bounds,
    skyline,
    sqlfn,
    subqueries,
    udfs,
    windows,
)
from .queries import ir_demo
from .streaming import pipeline as streaming_pipeline

_MODULES = [
    aggregates,
    attribution,
    events,
    joins,
    relational,
    subqueries,
    windows,
    collections,
    macros,
    skew,
    sqlfn,
    udfs,
    fuzzy,
    graph,
    sketch_bounds,
    layout,
    skyline,
    dedup,
    similarity,
    pq,
    textstats,
    tokenize,
    sampling,
    training,
    multimodal,
    curation_queries,
    mixture,
    substring_queries,
    clf_gate,
    h264_queries,
    bloomdecon,
    novelty,
    knn,
    dsir,
    cooc,
    deconreport,
    fim,
    linkgraph,
    heavy,
    outliers,
    retrieval,
    retrieval_stream,
    streaming_pipeline,
    ir_demo,
    txn_queries,
    warc_datasource,
]

#: Explicit registry order. The driver's correctness sweep has a bounded
#: budget (each round records rows for exactly the first 50 registry
#: entries), so ordering is part of the verification contract.
#:
#: Round-15 rotation (r14 VERDICT item 8, rotated this round). Window
#: composition (50):
#:
#: - the 8 r14 tail additions FIRST (``proximity_search_postings`` …
#:   ``vocab_prefix_postings``) — full oracles + pytest parity since
#:   r14, awaiting their FIRST driver rows;
#: - the 11 remaining r10-vintage rows (``trade_bfs_hops`` …
#:   ``warc_roundtrip_parse``) — the ledger's oldest evidence, retiring
#:   the r10 block entirely (this also re-certifies the r14-edited
#:   ``ops/sketch_bounds`` and ``ops/graph`` modules);
#: - forced re-certs for every r14-EDITED module whose newest driver
#:   rows predate the edits: the similarity/pq/knn family (argmin-by-
#:   aggregation + parsed-SQL planes), BPE encode/pair-counts (trainer
#:   vocabulary reuse), the txn metadata paths + stream_txn_sink
#:   (local_df LocalRelation route), join_theta_bands (same route), and
#:   ir_summary_pipeline/summary_chart_frame (same route);
#: - rows for every path THIS round's optimization diffs touch:
#:   curation_funnel_counts (one-pass conditional-aggregate counts),
#:   dsir_importance_select + dsir_gate_docs (single explode pass),
#:   dedup_components + neardup_dedup_pipeline (try/finally unpersist),
#:   ewma_forecast (shared fold SQL), the four memory-sink streaming
#:   rows + stream_incremental_rollup (changelog checkpointing +
#:   input-sized state partitions, all now started by
#:   streaming.pipeline.run_available_now), and url_canonicalize /
#:   url_domain_caps (blocked_domain_pred factoring in llm/url_ops).
#:   html_extract_text / quality gates / linedup rows were NOT pulled
#:   (their operators are unchanged; the funnel one-pass only ADDS a
#:   sibling expression) — the full-registry pytest sweep covers them.
#:
#: Tail order after the window: the r11/r12/r13-certified rows not
#: pulled into this window (oldest evidence first), then the r14 tail
#: leftovers, then the 50 r14-window rows (the freshest driver
#: evidence) last.
_ORDER = [
    "proximity_search_postings",
    "benchmark_leak_report",
    "stream_index_append",
    "boolean_search_postings",
    "kwic_snippets_postings",
    "retrieval_delete_search",
    "phrase_multi_search_postings",
    "vocab_prefix_postings",
    "trade_bfs_hops",
    "trade_pagerank",
    "trade_triangles",
    "user_rfm_segments",
    "multimodal_features",
    "media_resize",
    "media_frame_sample",
    "approx_sketches_bound",
    "hll_union_bound",
    "brp_lsh_bound",
    "warc_roundtrip_parse",
    "ann_brute_topk",
    "ann_ivf_topk",
    "ann_ivfpq_topk",
    "ann_lsh_topk",
    "ann_ml_brp_lsh",
    "kmeans_assign",
    "knn_classify_ivf",
    "embedding_cosine_nearup",
    "semantic_dedup",
    "bpe_encode_corpus",
    "bpe_pair_counts",
    "txn_history",
    "txn_maintenance_sql",
    "txn_pyds_write",
    "stream_txn_sink",
    "join_theta_bands",
    "ir_summary_pipeline",
    "summary_chart_frame",
    "curation_funnel_counts",
    "dsir_importance_select",
    "dsir_gate_docs",
    "dedup_components",
    "neardup_dedup_pipeline",
    "ewma_forecast",
    "stream_stream_interval_join",
    "stream_incremental_rollup",
    "stateful_user_totals",
    "stream_dedup_watermark",
    "stream_static_enrich",
    "url_canonicalize",
    "url_domain_caps",
    "volume_shipping",
    "approx_sketches",
    "benchmark_decontaminate",
    "cheapest_supplier_per_part",
    "column_profile",
    "concentrated_part_types",
    "containment_nearup",
    "corpus_clean_pipeline",
    "corpus_mixture",
    "dedup_by_key",
    "distinct_agg",
    "doc_frequency",
    "exact_median",
    "grouping_sets_agg",
    "hll_mergeable_rollup",
    "idle_customer_balances",
    "json_extract_ops",
    "latest_per_group",
    "minmax_extremes",
    "order_priority_counts",
    "pii_scrub",
    "pivot_agg",
    "pivot_coalesce_priority",
    "repetition_metrics",
    "returned_item_report",
    "rollup_agg",
    "sequence_packing",
    "shipping_priority_topk",
    "stratified_sample",
    "stream_sliding_batch",
    "suppliers_with_waiting_orders",
    "top_unshipped_parts",
    "unpivot_melt",
    "h264_header_parse",
    "mp4_h264_headers",
    "window_lag_lead",
    "window_range_interval",
    "window_ranking",
    "window_running_frames",
    "bloom_ngram_decontaminate",
    "ngram_novelty",
    "zorder_layout",
    "knn_classify",
    "skyline_parts",
    "pmi_cooccurrence",
    "attribution_touchpoints",
    "fim_psm_split",
    "crawl_link_graph",
    "array_agg_ops",
    "case_conditional",
    "date_functions",
    "explode_tokens",
    "filter_pushdown_project",
    "join_asof",
    "join_broadcast_dims",
    "join_full_outer",
    "join_left_outer",
    "join_multiway_topk",
    "join_range_window",
    "join_semi_anti",
    "map_ops",
    "math_functions",
    "null_semantics",
    "pandas_grouped_agg_udf",
    "python_udtf_expand",
    "regexp_extract_ops",
    "set_operations",
    "string_functions",
    "string_predicates",
    "txn_change_apply",
    "txn_change_feed",
    "txn_exactly_once_rollup",
    "txn_snapshot_merge",
    "txn_time_travel",
    "pmi_cooccurrence_floored",
    "novelty_gate_docs",
    "heavy_hitters_tokens",
    "mad_outliers",
    "temperature_mixture_sample",
    "token_budget_subset",
    "apply_in_pandas_topk",
    "salted_twophase_agg",
    "salted_skew_join",
    "variant_json_ops",
    "quality_classifier_gate",
    "dataset_split",
    "negative_sampling",
    "html_extract_text",
    "quality_signals",
    "gopher_quality_flags",
    "robots_wildcard_rules",
    "unicode_clean_text",
    "line_dedup_global",
    "span_dedup_c4",
    "charlm_gram_counts",
    "charlm_scoring_stats",
    "training_export_layout",
    "disjunctive_pushdown",
    "doc_fingerprint",
    "guarded_ratio_margin",
    "language_id",
    "market_share",
    "pandas_udf_vectorized",
    "product_profit",
    "quality_score",
    "stream_session_batch",
    "stream_tumbling_batch",
    "text_stats",
    "tfidf_top_terms",
    "vocab_oov_rate",
    "phrase_search_postings",
    "bm25_topk_queries",
    "bm25_score_docs",
    "inverted_index_postings",
    "inverted_index_postings_sharded",
    "warc_source_scan",
    "winnow_fingerprints_select",
    "substring_dedup_rebuild",
    "substring_dedup_incremental",
    "fingerprint_store_compact",
    "exact_dedup",
    "minhash_lsh_nearup",
    "pricing_summary",
    "regional_revenue",
    "window_sessionize",
    "bpe_train_merges",
    "cohort_retention",
    "collated_string_ops",
    "cube_agg",
    "customer_order_distribution",
    "doc_chunking",
    "embedding_quantize_int8",
    "event_transition_matrix",
    "forecast_revenue_change",
    "funnel_conversion",
    "fuzzy_name_pairs",
    "large_volume_customers",
    "late_shipment_priority",
    "lateral_topk_per_group",
    "media_codec_features",
    "ngram_jaccard_nearup",
    "outlier_iqr_flags",
    "pipe_syntax_rollup",
    "pivot_sql_clause",
    "promo_revenue_ratio",
    "promo_stock_suppliers",
    "recursive_inventory_chain",
    "session_paths_topk",
    "simhash_nearup",
    "small_quantity_revenue",
    "sql_udf_pricing",
    "supplier_part_variety",
    "timeseries_gapfill",
    "token_length_histogram",
    "token_topk_sketch",
    "top_supplier_revenue",
]


def _with_engine_conf(fn: Callable) -> Callable:
    """Queries must behave identically on ANY session the caller supplies
    (the driver harness builds its own); retrofit the engine's runtime SQL
    confs before the plan is constructed."""
    from functools import wraps

    from .session import ensure_engine_conf

    @wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(ensure_engine_conf(spark), sf_dir)

    return wrapped


@cache
def _merge() -> tuple[dict[str, Callable], dict[str, str]]:
    # invariants raise REAL exceptions, never assert: under ``python -O``
    # a stripped assert would let an unlisted query silently drop out of
    # the verification sweep, or a duplicate name silently overwrite
    queries: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    oracles: dict[str, str] = {}
    for mod in _MODULES:
        for name, fn in mod.QUERIES.items():
            if name in queries:
                raise RuntimeError(f"duplicate query name: {name}")
            queries[name] = _with_engine_conf(fn)
        for name, sql in getattr(mod, "ORACLES", {}).items():
            if name not in mod.QUERIES:
                raise RuntimeError(f"oracle without query: {name}")
            oracles[name] = sql
    # _ORDER is the verification contract: every registered query must have
    # an explicit position, and vice versa (tested in test_oracle_parity).
    if set(_ORDER) != set(queries):
        raise RuntimeError(
            f"registry order out of sync: "
            f"missing={set(queries) - set(_ORDER)} stale={set(_ORDER) - set(queries)}"
        )
    queries = {name: queries[name] for name in _ORDER}
    return queries, oracles


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # defensive copy: _merge() is @cache'd, so handing out the cached dict
    # would let one caller's mutation (a test monkeypatching an entry)
    # silently corrupt the registry for every later caller
    return dict(_merge()[0])


def all_oracles() -> dict[str, str]:
    return dict(_merge()[1])
