"""logparser_llm_spark — a PySpark-native log parse → enrich → route → aggregate engine.

A from-scratch reimplementation of the query/data-processing capabilities of
``1998x-stack/logparser_llm`` (Drain-style log-template clustering with an
LLM fallback), re-expressed Spark-first:

- a JVM ``regexp_replace`` chain for the regex "extractor" (cross-checked
  against the reference ``LogCleaner.clean``, cleaner.py:39-77),
- a deterministic per-line template extractor + one ``groupBy(pattern)``
  discovery aggregate, merged on the driver into a global template pool;
  the prefix tree (Drain) runs once per pattern on the driver to build a
  broadcast pattern → template map (the deterministic replacement for
  per-row LLM calls),
- broadcast hash-join enrichment, hash fan-out routing to per-sink tables,
  per-sink aggregate counts,
- checkpoint/lineage manifest for resumable runs,
- large-scale training-data ops: dedup (exact / minhash-LSH / simhash /
  n-gram Jaccard / embedding-cosine), ANN similarity search, text quality
  scoring, language ID, token counting, document fingerprinting, and
  multimodal binary-column plumbing.

Everything is DataFrame-declarative so Catalyst handles pushdown, pruning,
broadcast selection and AQE; Python appears only in Arrow-batched UDFs.
"""

__version__ = "0.1.0"


def __getattr__(name):
    """Lazy top-level API (avoids importing pyspark at package import)."""
    api = {
        "PipelineConfig": ("logparser_llm_spark.config", "PipelineConfig"),
        "build_session": ("logparser_llm_spark.session", "build_session"),
        "discover_templates": ("logparser_llm_spark.operators.cluster", "discover_templates"),
        "assign_templates": ("logparser_llm_spark.operators.cluster", "assign_templates"),
        "parse_and_count": ("logparser_llm_spark.operators.cluster", "parse_and_count"),
        "run_pipeline": ("logparser_llm_spark.plans.pipeline", "run_pipeline"),
        "run_resumable": ("logparser_llm_spark.plans.checkpoint", "run_resumable"),
        "enrich": ("logparser_llm_spark.plans.pipeline", "enrich"),
        "route": ("logparser_llm_spark.plans.pipeline", "route"),
        "sink_counts": ("logparser_llm_spark.plans.pipeline", "sink_counts"),
        "parsed_projection": ("logparser_llm_spark.plans.pipeline", "parsed_projection"),
        "parsing_statistics": ("logparser_llm_spark.plans.pipeline", "parsing_statistics"),
        "load_config": ("logparser_llm_spark.config", "load_config"),
        "config_from_yaml": ("logparser_llm_spark.config", "from_yaml"),
        "pool_merge_templates": ("logparser_llm_spark.operators.merging", "pool_merge_templates"),
        "pool_remove_template": ("logparser_llm_spark.operators.merging", "pool_remove_template"),
        "embedding_near_dup_lsh": ("logparser_llm_spark.operators.dedup", "embedding_near_dup_lsh"),
        "simhash_near_dup_pairs": ("logparser_llm_spark.operators.dedup", "simhash_near_dup_pairs"),
        "connected_components": ("logparser_llm_spark.operators.components", "connected_components"),
        "connected_components_star": ("logparser_llm_spark.operators.components", "connected_components_star"),
        "running_template_counts": ("logparser_llm_spark.streaming.stateful", "running_template_counts"),
        "expiring_user_sessions": ("logparser_llm_spark.streaming.stateful", "expiring_user_sessions"),
        # round-3 additions
        "knn_join": ("logparser_llm_spark.operators.similarity", "knn_join"),
        "ivf_topk": ("logparser_llm_spark.operators.similarity", "ivf_topk"),
        "lsh_bucket_topk": ("logparser_llm_spark.operators.similarity", "lsh_bucket_topk"),
        "dedup_corpus_keep_ids": ("logparser_llm_spark.operators.dedup", "dedup_corpus_keep_ids"),
        "dedup_corpus_keep_best": ("logparser_llm_spark.operators.dedup", "dedup_corpus_keep_best"),
        "dedup_paragraphs_corpus": (
            "logparser_llm_spark.operators.dedup",
            "dedup_paragraphs_corpus",
        ),
        "dedup_against_snapshot": ("logparser_llm_spark.operators.dedup", "dedup_against_snapshot"),
        "dataset_split": ("logparser_llm_spark.operators.sampling", "dataset_split"),
        "hash_sample": ("logparser_llm_spark.operators.sampling", "hash_sample"),
        "stratified_sample": ("logparser_llm_spark.operators.sampling", "stratified_sample"),
        "reservoir_per_key": ("logparser_llm_spark.operators.sampling", "reservoir_per_key"),
        "grok_parse": ("logparser_llm_spark.functions.grok", "grok_parse"),
        "accuracy_scorecard": ("logparser_llm_spark.metrics", "accuracy_scorecard"),
        "write_run_idempotent": ("logparser_llm_spark.sources.sinks", "write_run_idempotent"),
        # round-4 additions
        "generalize_pool": ("logparser_llm_spark.operators.merging", "generalize_pool"),
        "dedup_paragraphs": ("logparser_llm_spark.operators.dedup", "dedup_paragraphs"),
        "encode_jpeg": ("logparser_llm_spark.operators.jpeg", "encode_jpeg"),
        "encode_jpeg_progressive": ("logparser_llm_spark.operators.jpeg", "encode_jpeg_progressive"),
        "decode_jpeg": ("logparser_llm_spark.operators.jpeg", "decode_jpeg"),
        "decode_image": ("logparser_llm_spark.operators.multimodal", "decode_image"),
        # round-5 additions
        "canonicalize_template": ("logparser_llm_spark.metrics", "canonicalize_template"),
        "image_features": ("logparser_llm_spark.operators.multimodal", "image_features"),
        "synth_image_corpus": ("logparser_llm_spark.operators.multimodal", "synth_image_corpus"),
        "ensure_flagship_corpus": ("logparser_llm_spark.plans.queries", "ensure_flagship_corpus"),
        "exact_substring_dedup": ("logparser_llm_spark.operators.dedup", "exact_substring_dedup"),
        "parse_mp4": ("logparser_llm_spark.operators.media", "parse_mp4"),
        "parse_mp3": ("logparser_llm_spark.operators.media", "parse_mp3"),
        "media_metadata": ("logparser_llm_spark.operators.media", "media_metadata"),
        "synth_media_corpus": ("logparser_llm_spark.operators.media", "synth_media_corpus"),
        "encode_mp1": ("logparser_llm_spark.operators.mpeg_audio", "encode_mp1"),
        "encode_mp2": ("logparser_llm_spark.operators.mpeg_audio", "encode_mp2"),
        "decode_mp2": ("logparser_llm_spark.operators.mpeg_audio", "decode_mp2"),
        "decode_mpeg_audio": ("logparser_llm_spark.operators.media", "decode_mpeg_audio"),
        "audio_decode_stats": ("logparser_llm_spark.operators.media", "audio_decode_stats"),
        "synth_audio_corpus": ("logparser_llm_spark.operators.media", "synth_audio_corpus"),
        "pagerank_integer": ("logparser_llm_spark.operators.graph", "pagerank_integer"),
        "triangle_counts": ("logparser_llm_spark.operators.graph", "triangle_counts"),
        "resolve_redirects": ("logparser_llm_spark.operators.graph", "resolve_redirects"),
        "redirect_oracle_sql": ("logparser_llm_spark.operators.graph", "redirect_oracle_sql"),
        "prefix_filter_pairs": ("logparser_llm_spark.operators.setjoin", "prefix_filter_pairs"),
        "prefix_filter_pairs_sql": ("logparser_llm_spark.operators.setjoin", "prefix_filter_pairs_sql"),
        "parse_warc": ("logparser_llm_spark.sources.warc", "parse_warc"),
        "write_warc_record": ("logparser_llm_spark.sources.warc", "write_warc_record"),
        "warc_records": ("logparser_llm_spark.sources.warc", "warc_records"),
        "synth_warc_corpus": ("logparser_llm_spark.sources.warc", "synth_warc_corpus"),
        "parse_robots": ("logparser_llm_spark.functions.robots", "parse_robots"),
        "robots_rules": ("logparser_llm_spark.functions.robots", "robots_rules"),
        "robots_allowed": ("logparser_llm_spark.functions.robots", "robots_allowed"),
        "gopher_repetition": ("logparser_llm_spark.functions.quality", "gopher_repetition"),
        "doc_keywords": ("logparser_llm_spark.operators.ranking", "doc_keywords"),
        "build_inverted_index": ("logparser_llm_spark.operators.ranking", "build_inverted_index"),
        "shard_export": ("logparser_llm_spark.sources.sinks", "shard_export"),
        "gopher_signal_cols": ("logparser_llm_spark.functions.quality", "gopher_signal_cols"),
        "gopher_rule_cols": ("logparser_llm_spark.functions.quality", "gopher_rule_cols"),
        "c4_kept_lines": ("logparser_llm_spark.functions.quality", "c4_kept_lines"),
        "c4_stats_cols": ("logparser_llm_spark.functions.quality", "c4_stats_cols"),
        "sniff_charset": ("logparser_llm_spark.functions.charset", "sniff_charset"),
        "decode_page": ("logparser_llm_spark.functions.charset", "decode_page"),
        "html_to_text": ("logparser_llm_spark.functions.html", "html_to_text"),
        "html_title": ("logparser_llm_spark.functions.html", "html_title"),
        "html_links": ("logparser_llm_spark.functions.html", "html_links"),
        "html_meta": ("logparser_llm_spark.functions.html", "html_meta"),
        "html_anchors": ("logparser_llm_spark.functions.html", "html_anchors"),
        "canonicalize_url": ("logparser_llm_spark.functions.web", "canonicalize_url"),
        "host_of": ("logparser_llm_spark.functions.web", "host_of"),
        "registrable_domain": ("logparser_llm_spark.functions.web", "registrable_domain"),
        "hll_registers": ("logparser_llm_spark.operators.sketch", "hll_registers"),
        "hll_merge": ("logparser_llm_spark.operators.sketch", "hll_merge"),
        "hll_estimate": ("logparser_llm_spark.operators.sketch", "hll_estimate"),
        "hll_distinct": ("logparser_llm_spark.operators.sketch", "hll_distinct"),
        "bm25_topk": ("logparser_llm_spark.operators.ranking", "bm25_topk"),
        "cms_build": ("logparser_llm_spark.operators.sketch", "cms_build"),
        "cms_merge": ("logparser_llm_spark.operators.sketch", "cms_merge"),
        "cms_estimate": ("logparser_llm_spark.operators.sketch", "cms_estimate"),
        "heavy_hitters_exact": ("logparser_llm_spark.operators.sketch", "heavy_hitters_exact"),
        "loghist_build": ("logparser_llm_spark.operators.sketch", "loghist_build"),
        "loghist_merge": ("logparser_llm_spark.operators.sketch", "loghist_merge"),
        "loghist_quantiles": ("logparser_llm_spark.operators.sketch", "loghist_quantiles"),
        "bloom_build": ("logparser_llm_spark.operators.sketch", "bloom_build"),
        "bloom_merge": ("logparser_llm_spark.operators.sketch", "bloom_merge"),
        "bloom_contains": ("logparser_llm_spark.operators.sketch", "bloom_contains"),
        "dsir_features": ("logparser_llm_spark.operators.dsir", "dsir_features"),
        "badwords_cols": ("logparser_llm_spark.functions.quality", "badwords_cols"),
        "quantized_topk": ("logparser_llm_spark.operators.similarity", "quantized_topk"),
        "token_window_chunks": (
            "logparser_llm_spark.operators.chunking",
            "token_window_chunks",
        ),
        "dsir_weights": ("logparser_llm_spark.operators.dsir", "dsir_weights"),
        "weighted_sample": (
            "logparser_llm_spark.operators.sampling",
            "weighted_sample",
        ),
        "scd2_history": ("logparser_llm_spark.operators.scd", "scd2_history"),
        "scd2_sql": ("logparser_llm_spark.operators.scd", "scd2_sql"),
        "morton_code": ("logparser_llm_spark.operators.layout", "morton_code"),
        "zorder_write": ("logparser_llm_spark.operators.layout", "zorder_write"),
        "zorder_file": ("logparser_llm_spark.operators.layout", "zorder_file"),
        "nb_train": ("logparser_llm_spark.operators.classifier", "nb_train"),
        "nb_predict": ("logparser_llm_spark.operators.classifier", "nb_predict"),
        "nb_sql": ("logparser_llm_spark.operators.classifier", "nb_sql"),
        "bpe_train": ("logparser_llm_spark.operators.bpe", "bpe_train"),
        "bpe_encode": ("logparser_llm_spark.operators.bpe", "bpe_encode"),
        "bpe_merges_df": ("logparser_llm_spark.operators.bpe", "bpe_merges_df"),
        "asof_join": ("logparser_llm_spark.operators.joins", "asof_join"),
        "interval_join": ("logparser_llm_spark.operators.joins", "interval_join"),
        "windowed_hll_registers": (
            "logparser_llm_spark.streaming.incremental",
            "windowed_hll_registers",
        ),
        "windowed_cms_counters": (
            "logparser_llm_spark.streaming.incremental",
            "windowed_cms_counters",
        ),
        "windowed_loghist_counters": (
            "logparser_llm_spark.streaming.incremental",
            "windowed_loghist_counters",
        ),
        "stream_dedup_exact": (
            "logparser_llm_spark.streaming.incremental",
            "stream_dedup_exact",
        ),
        "stream_interval_join": (
            "logparser_llm_spark.streaming.incremental",
            "stream_interval_join",
        ),
        # round-5 continuation additions
        "cdc_chunks": ("logparser_llm_spark.operators.chunking", "cdc_chunks"),
        "html_paragraphs": ("logparser_llm_spark.functions.html", "html_paragraphs"),
        "html_main_text": ("logparser_llm_spark.functions.html", "html_main_text"),
        "html_boilerplate_ratio_e4": (
            "logparser_llm_spark.functions.html",
            "html_boilerplate_ratio_e4",
        ),
        "decontaminate": ("logparser_llm_spark.operators.decontaminate", "decontaminate"),
        "exclusive_prefix_sum": ("logparser_llm_spark.operators.packing", "exclusive_prefix_sum"),
        "pack_sequences": ("logparser_llm_spark.operators.packing", "pack_sequences"),
        "kmeans_fit": ("logparser_llm_spark.operators.kmeans", "kmeans_fit"),
        "hybrid_rrf_topk": ("logparser_llm_spark.operators.ranking", "hybrid_rrf_topk"),
        "quota_mix": ("logparser_llm_spark.operators.sampling", "quota_mix"),
        "semantic_dedup": ("logparser_llm_spark.operators.dedup", "semantic_dedup"),
        # round-5 eighth arc: classifier evaluation
        "eval_curve": ("logparser_llm_spark.operators.evaluation", "eval_curve"),
        "eval_auc": ("logparser_llm_spark.operators.evaluation", "eval_auc"),
        "eval_curve_sql": (
            "logparser_llm_spark.operators.evaluation",
            "eval_curve_sql",
        ),
        "eval_auc_sql": ("logparser_llm_spark.operators.evaluation", "eval_auc_sql"),
        "calibration_bins": (
            "logparser_llm_spark.operators.evaluation",
            "calibration_bins",
        ),
        "calibration_sql": (
            "logparser_llm_spark.operators.evaluation",
            "calibration_sql",
        ),
        # round-5 twelfth arc: HITS, BFS crawl depth, CDC upsert,
        # blocklist-as-a-join
        "hits_integer": ("logparser_llm_spark.operators.graph", "hits_integer"),
        "bfs_depths": ("logparser_llm_spark.operators.graph", "bfs_depths"),
        "cdc_apply": ("logparser_llm_spark.operators.scd", "cdc_apply"),
        "cdc_apply_sql": ("logparser_llm_spark.operators.scd", "cdc_apply_sql"),
        "blocklist_join": (
            "logparser_llm_spark.operators.blocklist",
            "blocklist_join",
        ),
        # round-5 thirteenth arc: containment join, global ordering,
        # crawl politeness scheduling
        "containment_pairs": (
            "logparser_llm_spark.operators.setjoin",
            "containment_pairs",
        ),
        "containment_pairs_sql": (
            "logparser_llm_spark.operators.setjoin",
            "containment_pairs_sql",
        ),
        "global_rank": ("logparser_llm_spark.operators.packing", "global_rank"),
        "fetch_schedule": (
            "logparser_llm_spark.operators.frontier",
            "fetch_schedule",
        ),
        # round-5 fourteenth arc: character-entropy quality signal
        "char_entropy": (
            "logparser_llm_spark.operators.profile",
            "char_entropy",
        ),
        # round-5 fifteenth arc: integer Flesch-Kincaid readability
        "readability_frame": (
            "logparser_llm_spark.functions.quality",
            "readability_frame",
        ),
        # round-5 sixteenth arc: duplicate-family-keyed dataset split
        "leakage_safe_split": (
            "logparser_llm_spark.operators.dedup",
            "leakage_safe_split",
        ),
        "dup_family_edges": (
            "logparser_llm_spark.operators.dedup",
            "dup_family_edges",
        ),
        # round-5 sixteenth arc: Stupid Backoff trigram LM
        "sb_train_trigram": (
            "logparser_llm_spark.operators.lm",
            "sb_train_trigram",
        ),
        "sb_score_trigram": (
            "logparser_llm_spark.operators.lm",
            "sb_score_trigram",
        ),
        # round-5 seventeenth arc: host boilerplate removal, JSD drift
        "remove_host_boilerplate": (
            "logparser_llm_spark.operators.dedup",
            "remove_host_boilerplate",
        ),
        "mixture_jsd": ("logparser_llm_spark.operators.profile", "mixture_jsd"),
        # round-5 eighteenth arc: CCNet terciles, Wilson host quality
        "ppl_buckets": ("logparser_llm_spark.operators.lm", "ppl_buckets"),
        "wilson_lower_e6": (
            "logparser_llm_spark.functions.quality",
            "wilson_lower_e6",
        ),
        # round-5 nineteenth arc: robust stats + skew audit
        "mad_outliers": ("logparser_llm_spark.operators.robust", "mad_outliers"),
        "group_lower_median": (
            "logparser_llm_spark.operators.robust",
            "group_lower_median",
        ),
        "key_skew_audit": (
            "logparser_llm_spark.operators.robust",
            "key_skew_audit",
        ),
        # round-5 twentieth arc: G-test drift, source overlap matrix
        "g_test_drift": ("logparser_llm_spark.operators.profile", "g_test_drift"),
        "source_token_jaccard": (
            "logparser_llm_spark.operators.profile",
            "source_token_jaccard",
        ),
        # round-5 twenty-first arc: drop provenance ledger
        "drop_ledger": ("logparser_llm_spark.operators.ledger", "drop_ledger"),
        "drop_funnel": ("logparser_llm_spark.operators.ledger", "drop_funnel"),
        # round-5 twenty-second/twenty-fourth arcs: prefix-sum cuts
        "budget_select": (
            "logparser_llm_spark.operators.packing",
            "budget_select",
        ),
        "shard_plan": ("logparser_llm_spark.operators.packing", "shard_plan"),
        "quantile_normalize": (
            "logparser_llm_spark.operators.robust",
            "quantile_normalize",
        ),
        # round-5 twenty-third arc: seed-personalized trust propagation
        "trustrank_integer": (
            "logparser_llm_spark.operators.graph",
            "trustrank_integer",
        ),
        # round-5 twenty-fifth arc: FastSS ed-1 fuzzy join
        "fuzzy_join_ed1": ("logparser_llm_spark.operators.fuzzy", "fuzzy_join_ed1"),
        # round-5 twenty-sixth arc: compliance audit + family histogram
        "politeness_audit": (
            "logparser_llm_spark.operators.frontier",
            "politeness_audit",
        ),
        "dup_family_histogram": (
            "logparser_llm_spark.operators.ledger",
            "dup_family_histogram",
        ),
        # round-5 twenty-seventh arc: script-mix signal + decayed recrawl
        # priority
        "script_mix": ("logparser_llm_spark.operators.profile", "script_mix"),
        "decayed_activity": (
            "logparser_llm_spark.operators.frontier",
            "decayed_activity",
        ),
        # round-5 twenty-eighth arc: sitemap audit + minhash calibration
        "sitemap_coverage": (
            "logparser_llm_spark.operators.frontier",
            "sitemap_coverage",
        ),
        "minhash_calibration": (
            "logparser_llm_spark.operators.dedup",
            "minhash_calibration",
        ),
        # round-5 twenty-ninth arc: SNM blocking + KS drift
        "snm_pairs": ("logparser_llm_spark.operators.fuzzy", "snm_pairs"),
        "ks_drift": ("logparser_llm_spark.operators.profile", "ks_drift"),
        # round-5 thirtieth arc: chance-corrected rater agreement
        "cohens_kappa": (
            "logparser_llm_spark.operators.evaluation",
            "cohens_kappa",
        ),
        # round-5 thirty-first arc: crawl continuity + retrieval eval
        "crawl_gaps": (
            "logparser_llm_spark.operators.frontier",
            "crawl_gaps",
        ),
        "retrieval_metrics": (
            "logparser_llm_spark.operators.ranking",
            "retrieval_metrics",
        ),
        # round-5 thirty-second arc: robust trimmed mean + URL audit
        "trimmed_mean": (
            "logparser_llm_spark.operators.robust",
            "trimmed_mean",
        ),
        "param_explosion": (
            "logparser_llm_spark.operators.frontier",
            "param_explosion",
        ),
        # round-5 thirty-third arc: JSON payload surface
        "json_field": ("logparser_llm_spark.functions.json", "json_field"),
        "json_field_bigint": (
            "logparser_llm_spark.functions.json",
            "json_field_bigint",
        ),
        "json_schema_profile": (
            "logparser_llm_spark.operators.profile",
            "json_schema_profile",
        ),
        # round-5 thirty-fourth arc: threshold sweep + Heaps curve
        "simhash_threshold_sweep": (
            "logparser_llm_spark.operators.dedup",
            "simhash_threshold_sweep",
        ),
        "vocab_growth": (
            "logparser_llm_spark.operators.profile",
            "vocab_growth",
        ),
        # round-5 thirty-fifth arc: tail index + epoch shuffle
        "hill_tail_index": (
            "logparser_llm_spark.operators.profile",
            "hill_tail_index",
        ),
        "epoch_shuffle": (
            "logparser_llm_spark.operators.packing",
            "epoch_shuffle",
        ),
        # round-5 thirty-sixth arc: graph structure constants
        "graph_structure": (
            "logparser_llm_spark.operators.graph",
            "graph_structure",
        ),
        # round-5 thirty-seventh arc: storage-layer audits
        "overlap_depth": (
            "logparser_llm_spark.operators.layout",
            "overlap_depth",
        ),
        "encoding_advisor": (
            "logparser_llm_spark.operators.profile",
            "encoding_advisor",
        ),
        # round-5 thirty-eighth arc: quota apportionment + sitemaps
        "apportion": (
            "logparser_llm_spark.operators.sampling",
            "apportion",
        ),
        "sitemap_directives": (
            "logparser_llm_spark.operators.frontier",
            "sitemap_directives",
        ),
        # round-5 fortieth arc: confusion scorecard + weighted median
        "confusion_scorecard": (
            "logparser_llm_spark.operators.evaluation",
            "confusion_scorecard",
        ),
        "weighted_lower_median": (
            "logparser_llm_spark.operators.robust",
            "weighted_lower_median",
        ),
    }
    if name in api:
        import importlib

        module, attr = api[name]
        return getattr(importlib.import_module(module), attr)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
