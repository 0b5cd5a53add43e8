"""CLI entry point mirroring the reference's tool surface.

The reference dispatches ``args[0]`` to one of 15 tools
(hbase-tools-runner/.../Tool.java:18-341, ToolsRunner.java:13-44); this
module maps every tool name to the queries that re-express it, so a
reference user can run::

    python -m hbase_tools_spark table_analyzer --sf-dir /root/testdata/sf0.01
    python -m hbase_tools_spark report
    python -m hbase_tools_spark table_copy --src <dir> --dst <dir>

Analytics tools print their result relations; act-tools print their
emitted action plans (the REPORT-mode contract — findings +
resolutions, never live RPCs); table_copy/table_replace perform the
catalog operation.
"""

from __future__ import annotations

import argparse
import os
import sys

# Tool -> registered queries (SURVEY.md §2 / COVERAGE.md mapping).
TOOL_QUERIES: dict[str, list[str]] = {
    "table_analyzer": [
        "analyzer_table_size", "analyzer_size_hist", "analyzer_locality_hist",
        "analyzer_filecount_hist", "analyzer_distribution_hist",
        "analyzer_weight_stats",
    ],
    "report": [
        "report_rs_distribution", "report_snapshots_stale",
        "report_snapshots_toomany", "report_heap_pressure", "report_rit_stuck",
        "report_biggest_regions", "report_biggest_rollup",
        "report_compaction_queues", "report_locality", "report_complex_rollup",
        "report_partial_top15",
    ],
    "compactor": ["compaction_plan"],
    "compaction_cleaner": ["report_compaction_queues"],
    "distributor": [
        "distribution_weight", "distribution_candidates", "busiest_emptiest",
    ],
    "flusher": ["flush_plan"],
    "merger": [
        "merge_plan", "mergeable_region_count", "snapshot_merge_guard",
        "merged_span_recovery",
    ],
    "splitter": ["split_plan", "split_points"],
    "key_generator": ["salted_keys"],
    "key_finder": ["range_lookup"],
    "health_check": ["health_check_eligible", "health_probe_plan"],
    "meta": [
        "topology_parse", "topology_diff", "topology_asof",
        "topology_retention", "regions_by_server", "table_mask_selection",
    ],
    "table_checker": ["region_bounds"],
    # Beyond the reference's 15 tools: the training-data pipeline
    # extensions (SURVEY.md §7 M8), grouped as CLI surfaces so a
    # pipeline user gets the same one-command ergonomics.
    "llm_dedup": [
        "docs_exact_dedup", "minhash_band_pairs", "lsh_bucket_stats",
        "minhash_similarity_estimates", "neardup_clusters_converged",
        "docs_neardup_survivors", "docs_window_dedup",
        "semantic_only_dup_pairs", "corpus_novelty_curve",
        "novelty_by_source", "docs_dup_spans", "docs_span_removed",
        "neardup_pagerank",
    ],
    "llm_prep": [
        "docs_split_assign", "docs_stratified_sample", "docs_chunk_spans",
        "docs_pack_bins", "corpus_mixture_weights", "corpus_temperature_mixture",
        "training_set_assembly",
        "docs_dsir_weights", "docs_ccnet_perplexity",
        "docs_ccnet_perplexity_served", "bloom_contamination",
        "training_set_funnel", "docs_weighted_sample",
        "docs_budget_selection",
    ],
    "llm_text": [
        "text_stats", "lang_id_heuristic", "docs_quality_filter",
        "token_count_hist", "corpus_stats_by_lang", "vocab_top_terms",
        "tfidf_top_terms", "docs_char_entropy", "oov_rate_by_source",
        "source_unigram_divergence", "token_zipf_fit", "bigram_pmi_top",
        "corpus_dataset_card", "docs_gopher_rules", "tokenizer_fertility",
        "docs_length_percentile_filter", "word_embedding_neighbors",
        "docs_lr_quality_train",
    ],
    "llm_embed": [
        "embedding_topk", "embedding_ivf_kmeans_topk",
        "embedding_neardup_pairs", "embedding_int8_topk",
        "embedding_pq_topk", "embedding_ivfpq_topk",
        "embedding_label_outliers",
    ],
    "llm_multimodal": [
        "multimodal_decode_headers", "multimodal_features",
        "multimodal_frame_sample", "multimodal_png_stats",
        "multimodal_wav_pcm_stats", "multimodal_jpeg_roundtrip",
        "multimodal_mp4_boxes", "multimodal_mjpeg_video",
    ],
    # Event-stream batch analytics (sessionization + skew detection) —
    # the batch twins of the stream_* jobs and the salting advisor.
    "events_analyzer": [
        "events_user_cardinality", "events_salted_rollup",
        "events_sessionize", "events_heavy_hitters", "events_funnel",
        "events_retention_cohorts", "events_props_rollup",
        "events_anomaly_zscore", "events_attribution",
        "events_attribution_first", "events_attribution_position",
        "events_markov_attribution", "events_transition_matrix",
    ],
    # Deterministic, oracle-replayable sketches (constant-state
    # cardinality / overlap / frequency / quantiles at 100 TB).
    "sketches": [
        "events_hll_cardinality", "events_kmv_overlap",
        "events_cms_heavy_hitters", "docs_length_quantile_sketch",
    ],
    # Retrieval over the corpus: BM25 + hybrid fusion + quality
    # scoreboards (the persisted inverted-index serving paths live in
    # llm/search.py: index_ingest_batch writes the index, whole or one
    # streamed micro-batch at a time, and bm25_topk_from_index /
    # hybrid_rrf_from_index serve it).
    "search": [
        "docs_bm25_topk", "docs_bm25_served", "hybrid_rrf_search", "ann_recall_at_k",
        "retrieval_rank_overlap", "retrieval_ndcg",
    ],
    # Corpus operations: snapshot churn, profiling, training order,
    # OLAP rollup, tokenizer application.
    "corpus_ops": [
        "corpus_version_diff", "docs_table_profile",
        "docs_curriculum_order", "corpus_rollup_stats",
        "bpe_merge_steps", "bpe_encode_tokens", "docs_epoch_shuffle",
    ],
}

LIFECYCLE_TOOLS = {"table_copy", "table_replace"}

# Unregistered per-tool extras: full-table surfaces whose registered
# twin is oracle-restricted (see operators/keyspace.py:salted_keys_full).
TOOL_EXTRA_FNS: dict[str, list[str]] = {
    "key_generator": ["salted_keys_full"],
}


def _extra_fn(name: str):
    from .operators.keyspace import salted_keys_full

    return {"salted_keys_full": salted_keys_full}[name]


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        prog="hbase_tools_spark",
        description="PySpark-native analogs of the hbase-tools CLI tools",
    )
    parser.add_argument(
        "tool", choices=sorted(TOOL_QUERIES) + sorted(LIFECYCLE_TOOLS) + ["query"]
    )
    parser.add_argument(
        "--name", help="query tool: run one registered query by name"
    )
    parser.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
    )
    parser.add_argument("--rows", type=int, default=20, help="rows to show")
    parser.add_argument("--src", help="source path (table_copy/table_replace)")
    parser.add_argument("--dst", help="destination path")
    parser.add_argument(
        "--mode",
        choices=["relations", "console", "html"],
        default="relations",
        help="report tool: rendered CONSOLE/HTML report instead of raw relations",
    )
    parser.add_argument("--full", action="store_true", help="report: no 15-event cap")
    parser.add_argument("--out-dir", default=".", help="report: output directory")
    parser.add_argument(
        "--explain",
        action="store_true",
        help="print each query's optimized/physical plan instead of rows "
        "(the plan-audit discipline: check pushed filters, broadcast "
        "joins, codegen spans before trusting a tool at scale)",
    )
    args = parser.parse_args(argv)

    from .session import get_spark

    spark = get_spark(f"hbase-tools-{args.tool}")
    if args.tool in LIFECYCLE_TOOLS:
        if not args.src or not args.dst:
            parser.error(f"{args.tool} requires --src and --dst")
        from .sources import tables as T

        if args.tool == "table_copy":
            T.copy_table(spark, args.src, args.dst)
            print(f"copied {args.src} -> {args.dst}")
        else:
            backup = T.replace_table(spark, args.src, args.dst)
            print(f"replaced {args.dst} (backup: {backup or 'none'})")
        return 0

    from . import llm, operators, streaming  # noqa: F401 — register queries
    from .catalog import load_model
    from .registry import QUERIES

    model = load_model(spark, args.sf_dir)
    if args.tool == "report" and args.mode != "relations":
        import time as _time

        from .reporting import make_report

        stamp = _time.strftime("%Y-%m-%d_%H-%M-%S")
        out = make_report(
            model,
            mode=args.mode,
            partial=not args.full,
            out_dir=args.out_dir,
            stamp=stamp,
        )
        if "console" in out:
            print(out["console"])
        for k in ("html", "fixes"):
            if k in out:
                print(f"{k}: {out[k]}")
        return 0
    def render(df):
        if args.explain:
            df.explain("formatted")
        else:
            df.show(args.rows, truncate=False)

    if args.tool == "query":
        if not args.name or args.name not in QUERIES:
            parser.error(
                f"--name must be one of: {', '.join(sorted(QUERIES))}"
            )
        render(QUERIES[args.name].fn(model))
        return 0
    for name in TOOL_QUERIES[args.tool]:
        print(f"\n=== {name} ===")
        render(QUERIES[name].fn(model))
    for name in TOOL_EXTRA_FNS.get(args.tool, ()):
        print(f"\n=== {name} ===")
        render(_extra_fn(name)(model))
    return 0


if __name__ == "__main__":
    sys.exit(main())
