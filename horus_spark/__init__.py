"""horus_spark — a PySpark-native forms-recognition / content-extraction engine.

A from-scratch reimplementation of the capabilities of the reference engine
(nikkh/Horus, studied at /root/reference): batch extraction over tables of
interleaved text+media documents — boilerplate stripping, OCR layout parsing
(line clustering + table grid inference), key-value field extraction,
document "shredding" into typed records with an error taxonomy, versioning,
dedup, and accuracy scoring — expressed Spark-first (DataFrame API +
vectorized pandas/Arrow UDFs; zero per-row Python on the hot path).

Package map:
  schema.py              all StructTypes (input spans, OCR words, outputs)
  errors.py              PRE0001..PRE0007 error taxonomy (parity with
                         reference Engines/Processing/ProcessingEngine.cs)
  config.py              per-format extraction configs (anchor lexicons)
  operators/layout.py    L1 word->line clustering, L2 table grid inference
  operators/fields.py    L3/L4 anchor-based key-value field extraction
  operators/shred.py     P1-P9 document shredder: fields -> raw-column
                         bridge, then a vectorized Arrow shred inside the
                         recognize kernel (shred_arrays) + the JVM's three
                         leading header reads and output projection
  operators/boilerplate.py  L5 text-density boilerplate scoring
  operators/html.py      HTML main-content extraction: flat text-density
                         block screen (pure expressions) + DOM-tree
                         Readability/CETD tier (Arrow kernel)
  operators/dedup.py     exact / minhash-LSH / simhash / ngram-jaccard dedup
  operators/similarity.py  brute-force / LSH / IVF / int8-quantized ANN
  operators/skew.py      salted join for hot-key skew
  operators/components.py  connected components (large-star/small-star)
                         — near-dup pairs -> canonical clusters
  operators/sampling.py  deterministic hash / stratified sampling,
                         per-key contribution caps
  operators/packing.py   token-budget training-sequence packing
                         (shard-parallel next-fit)
  operators/asof.py      as-of (point-in-time) join, union-and-carry
  operators/rangejoin.py interval containment join, bucketized
  operators/textstats.py language-ID, quality scoring, token counts,
                         fingerprinting over document text
  operators/decontam.py  benchmark decontamination (n-gram collision)
  operators/bloom.py     bloom pre-filter tier for decontamination
  operators/sketches.py  KMV / HLL++ distinct-count sketches
  operators/ranking.py   BM25 corpus ranking (query-term pruned) +
                         MaxScore dynamic-pruned top-k + RRF fusion
  operators/feeds.py     RSS/Atom feed parsing (crawl discovery)
  operators/sentences.py sentence segmentation + integer readability
  operators/masking.py   T5 span-corruption mask planning
  operators/chunking.py  token-window chunking (map-side only)
  operators/pii.py       PII detection/redaction (map-side regexp)
  operators/urls.py      URL normalization + per-domain survey
  operators/paragraphs.py  cross-doc duplicated-passage stats +
                         sliding-window exact-substring span coverage
  operators/lm_score.py  unigram-LM quality scoring (CCNet-style)
  operators/dsir.py      DSIR importance-resampling weights (hashed
                         n-gram bucket models, broadcast ratio table)
  operators/mixture.py   temperature-scaled domain mixture allocation
  operators/quality_filter.py  Gopher-rule composed quality gate
  operators/topk.py      group-wise top-k (WindowGroupLimit pruning)
  operators/pooling.py   embedding mean-pool (deterministic micro-int)
  operators/semdedup.py  SemDeDup embedding-cluster dedup
  operators/multimodal.py  binary media column plumbing (real PNM/BMP/PNG
                         decode via operators/imaging.py; audio/video stubbed)
  operators/scoring.py   Inspector-style accuracy scoring + summary/flip
  operators/inspection.py  A8 asset-count scoring (capped points)
  registry.py            versioned model/config registry (MAX+1, argmax)
  training.py            learned-anchor config training (labels.json ->
                         FORMAT_CONFIGS-shape artifact, ModelTrainer parity)
  engines.py             pluggable shredder-engine registry
  pipeline.py            end-to-end extraction pipeline (one-shuffle design;
                         L6 span classification + thumbprint expressions)
  fixtures/generator.py  deterministic seeded synthetic corpus + goldens
  fixtures/reference_fixtures.py  quickstart OCR fixture loaders
  fixtures/oracle_shred.py  independent Python mini-shredder (golden oracle)
  sources/               OCR-JSON source, admission filter, sinks + checkpoint
  session.py             tuned SparkSession builder
  _zipimport.py          per-task zip re-read skipped for unchanged
                         archives (installed on import, in every worker)
"""

from horus_spark import _zipimport  # noqa: F401

__version__ = "0.3.0"


def __getattr__(name):
    """Lazy top-level API (keeps `import horus_spark` free of a Spark
    dependency until an entry point is touched)."""
    _API = {
        "get_spark": ("horus_spark.session", "get_spark"),
        "run_extraction": ("horus_spark.pipeline", "run_extraction"),
        "recognize": ("horus_spark.pipeline", "recognize"),
        "write_extracted": ("horus_spark.sources.sink", "write_extracted"),
        "run_checkpointed": ("horus_spark.sources.sink", "run_checkpointed"),
        "bootstrap_registry": ("horus_spark.registry", "bootstrap_registry"),
        "register_model": ("horus_spark.registry", "register_model"),
        "latest_models": ("horus_spark.registry", "latest_models"),
        "get_engine": ("horus_spark.engines", "get_engine"),
        "write_documents_versioned": (
            "horus_spark.sources.sink", "write_documents_versioned",
        ),
        "read_documents_versioned": (
            "horus_spark.sources.sink", "read_documents_versioned",
        ),
        "stream_extraction": (
            "horus_spark.streaming.incremental", "stream_extraction",
        ),
        "dedup_pipeline": ("horus_spark.operators.dedup", "dedup_pipeline"),
        "salted_join": ("horus_spark.operators.skew", "salted_join"),
        "load_documents": ("horus_spark.sources.sink", "load_documents"),
        "quantized_topk": ("horus_spark.operators.similarity", "quantized_topk"),
        "ivf_quantized_topk": (
            "horus_spark.operators.similarity", "ivf_quantized_topk",
        ),
        "connected_components": (
            "horus_spark.operators.components", "connected_components",
        ),
        "assign_clusters": (
            "horus_spark.operators.components", "assign_clusters",
        ),
        "hash_sample": ("horus_spark.operators.sampling", "hash_sample"),
        "stratified_sample": (
            "horus_spark.operators.sampling", "stratified_sample",
        ),
        "cap_per_key": ("horus_spark.operators.sampling", "cap_per_key"),
        "weighted_sample_per_key": (
            "horus_spark.operators.sampling", "weighted_sample_per_key",
        ),
        "repetition_stats": (
            "horus_spark.operators.textstats", "repetition_stats",
        ),
        "pack_sequences": ("horus_spark.operators.packing", "pack_sequences"),
        "asof_join": ("horus_spark.operators.asof", "asof_join"),
        "interval_join": ("horus_spark.operators.rangejoin", "interval_join"),
        "decontaminate": ("horus_spark.operators.decontam", "decontaminate"),
        "semantic_dedup": ("horus_spark.operators.semdedup", "semantic_dedup"),
        "semantic_pairs": ("horus_spark.operators.semdedup", "semantic_pairs"),
        "top_ngrams": ("horus_spark.operators.textstats", "top_ngrams"),
        "bloom_decontaminate": (
            "horus_spark.operators.bloom", "bloom_decontaminate",
        ),
        "build_bloom": ("horus_spark.operators.bloom", "build_bloom"),
        "kmv_distinct": ("horus_spark.operators.sketches", "kmv_distinct"),
        "approx_distinct": (
            "horus_spark.operators.sketches", "approx_distinct",
        ),
        "bm25_topk": ("horus_spark.operators.ranking", "bm25_topk"),
        "chunk_documents": (
            "horus_spark.operators.chunking", "chunk_documents",
        ),
        "pii_stats": ("horus_spark.operators.pii", "pii_stats"),
        "redact_pii": ("horus_spark.operators.pii", "redact_pii"),
        "domain_counts": ("horus_spark.operators.urls", "domain_counts"),
        "duplicate_paragraph_stats": (
            "horus_spark.operators.paragraphs", "duplicate_paragraph_stats",
        ),
        "lm_score": ("horus_spark.operators.lm_score", "lm_score"),
        "top_k_per_key": ("horus_spark.operators.topk", "top_k_per_key"),
        "mean_pool": ("horus_spark.operators.pooling", "mean_pool"),
        "exact_dedup": ("horus_spark.operators.dedup", "exact_dedup"),
        "stream_dedup": (
            "horus_spark.streaming.incremental", "stream_dedup",
        ),
        "read_output": ("horus_spark.sources.sink", "read_output"),
        "list_snapshots": ("horus_spark.sources.sink", "list_snapshots"),
        "minhash_dedup_pairs": (
            "horus_spark.operators.dedup", "minhash_dedup_pairs",
        ),
        "fit_unigram_model": (
            "horus_spark.operators.lm_score", "fit_unigram_model",
        ),
        "dsir_log_weights": ("horus_spark.operators.dsir", "dsir_log_weights"),
        "duplicate_span_coverage": (
            "horus_spark.operators.paragraphs", "duplicate_span_coverage",
        ),
        "temperature_mixture": (
            "horus_spark.operators.mixture", "temperature_mixture",
        ),
        "gopher_quality_filter": (
            "horus_spark.operators.quality_filter", "gopher_quality_filter",
        ),
        "keep_best_per_cluster": (
            "horus_spark.operators.components", "keep_best_per_cluster",
        ),
        "containment_pairs": (
            "horus_spark.operators.dedup", "containment_pairs",
        ),
        "pagerank": ("horus_spark.operators.graph", "pagerank"),
        "heavy_hitters": ("horus_spark.operators.sketches", "heavy_hitters"),
        "cms_sketch": ("horus_spark.operators.sketches", "cms_sketch"),
        "cms_estimate": ("horus_spark.operators.sketches", "cms_estimate"),
        "fit_hashed_classifier": (
            "horus_spark.operators.classifier", "fit_hashed_classifier",
        ),
        "classifier_score": (
            "horus_spark.operators.classifier", "classifier_score",
        ),
        "hdr_sketch": ("horus_spark.operators.sketches", "hdr_sketch"),
        "hdr_quantiles": ("horus_spark.operators.sketches", "hdr_quantiles"),
        "schedule_fetches": (
            "horus_spark.operators.politeness", "schedule_fetches",
        ),
        "worker_load": ("horus_spark.operators.politeness", "worker_load"),
        "shrunk_keep_rate": ("horus_spark.operators.priors", "shrunk_keep_rate"),
        "prefix_jaccard_pairs": (
            "horus_spark.operators.ssjoin", "prefix_jaccard_pairs",
        ),
        "gazetteer_match": (
            "horus_spark.operators.gazetteer", "gazetteer_match",
        ),
        "gazetteer_counts": (
            "horus_spark.operators.gazetteer", "gazetteer_counts",
        ),
        "time_bucket_rollup": (
            "horus_spark.operators.rollup", "time_bucket_rollup",
        ),
        "zorder_layout": ("horus_spark.operators.zorder", "zorder_layout"),
        "zorder_key_expr": ("horus_spark.operators.zorder", "zorder_key_expr"),
        "split_assign": ("horus_spark.operators.sampling", "split_assign"),
        "global_row_number": (
            "horus_spark.operators.indexing", "global_row_number",
        ),
        "epoch_shuffle": ("horus_spark.operators.indexing", "epoch_shuffle"),
        "ccnet_tiers": ("horus_spark.operators.lm_score", "ccnet_tiers"),
        "ocr_parse_errors": ("horus_spark.sources.ocr_json", "ocr_parse_errors"),
        "compact_chunks": ("horus_spark.sources.sink", "compact_chunks"),
        "expire_snapshots": ("horus_spark.sources.sink", "expire_snapshots"),
        "vacuum_chunks": ("horus_spark.sources.sink", "vacuum_chunks"),
        "append_chunk": ("horus_spark.sources.sink", "append_chunk"),
        "merge_upsert": ("horus_spark.sources.sink", "merge_upsert"),
        "delete_rows": ("horus_spark.sources.sink", "delete_rows"),
        "kmeans_fit_full": ("horus_spark.operators.kmeans", "kmeans_fit_full"),
        "kmeans_clusters": ("horus_spark.operators.kmeans", "kmeans_clusters"),
        "kmeans_assign": ("horus_spark.operators.kmeans", "kmeans_assign"),
        "interleave_stats": (
            "horus_spark.operators.interleave", "interleave_stats",
        ),
        "caption_pairs": ("horus_spark.operators.interleave", "caption_pairs"),
        "train_format_config": (
            "horus_spark.training", "train_format_config",
        ),
        "register_trained_model": (
            "horus_spark.registry", "register_trained_model",
        ),
        "extract_image_features": (
            "horus_spark.operators.multimodal", "extract_image_features",
        ),
        "decode_pixels": ("horus_spark.operators.imaging", "decode_pixels"),
        "image_features": (
            "horus_spark.operators.imaging", "image_features",
        ),
        "sniff_format": ("horus_spark.operators.imaging", "sniff_format"),
        "multimodal_fingerprints": (
            "horus_spark.operators.interleave", "multimodal_fingerprints",
        ),
        "multimodal_dedup": (
            "horus_spark.operators.interleave", "multimodal_dedup",
        ),
        "media_integrity": (
            "horus_spark.operators.interleave", "media_integrity",
        ),
        "interleave_token_costs": (
            "horus_spark.operators.interleave", "interleave_token_costs",
        ),
        "dedup_assets": ("horus_spark.operators.interleave", "dedup_assets"),
        "span_diff": ("horus_spark.operators.interleave", "span_diff"),
        "srp_project": ("horus_spark.operators.similarity", "srp_project"),
        "srp_signs": ("horus_spark.operators.similarity", "srp_signs"),
        "recrawl_schedule": ("horus_spark.operators.recrawl", "recrawl_schedule"),
        "profile_drift": ("horus_spark.operators.profile", "profile_drift"),
        "quantile_outlier_gate": ("horus_spark.operators.sketches", "quantile_outlier_gate"),
        "zipf_fit": ("horus_spark.operators.textstats", "zipf_fit"),
        "rate_anomalies": ("horus_spark.operators.anomaly", "rate_anomalies"),
        "cdc_chunks": ("horus_spark.operators.cdc", "cdc_chunks"),
        "cdc_dup_stats": ("horus_spark.operators.cdc", "cdc_dup_stats"),
        "hll_sketch": ("horus_spark.operators.sketches", "hll_sketch"),
        "hll_estimate": ("horus_spark.operators.sketches", "hll_estimate"),
        "hll_set_ops": ("horus_spark.operators.sketches", "hll_set_ops"),
        "sitemap_coverage": ("horus_spark.operators.sitemap", "sitemap_coverage"),
        "stream_sketch_maintenance": (
            "horus_spark.streaming.incremental", "stream_sketch_maintenance",
        ),
        "read_sketch": ("horus_spark.streaming.incremental", "read_sketch"),
        "robots_audit": ("horus_spark.operators.robots", "robots_audit"),
        "rewrite_media_refs": (
            "horus_spark.operators.interleave", "rewrite_media_refs",
        ),
        "multimodal_minhash_pairs": (
            "horus_spark.operators.interleave", "multimodal_minhash_pairs",
        ),
        "modality_mixture": (
            "horus_spark.operators.interleave", "modality_mixture",
        ),
        "build_multimodal_index": (
            "horus_spark.operators.interleave", "build_multimodal_index",
        ),
        "incremental_multimodal_dedup": (
            "horus_spark.operators.interleave", "incremental_multimodal_dedup",
        ),
        "extend_multimodal_index": (
            "horus_spark.operators.interleave", "extend_multimodal_index",
        ),
        "stream_multimodal_ingest": (
            "horus_spark.streaming.incremental", "stream_multimodal_ingest",
        ),
        "span_languages": (
            "horus_spark.operators.interleave", "span_languages",
        ),
        "profile_table": ("horus_spark.operators.profile", "profile_table"),
        "html_blocks": ("horus_spark.operators.html", "html_blocks"),
        "dom_extract": ("horus_spark.operators.html", "dom_extract"),
        "synthesize_html": ("horus_spark.operators.html", "synthesize_html"),
        "extract_links": ("horus_spark.operators.html", "extract_links"),
        "html_to_spans": ("horus_spark.operators.html", "html_to_spans"),
        "token_overlap_eval": (
            "horus_spark.operators.evaluate", "token_overlap_eval",
        ),
        "page_metadata": ("horus_spark.operators.html", "page_metadata"),
        "read_warc": ("horus_spark.sources.warc", "read_warc"),
        "parse_warc_records": (
            "horus_spark.sources.warc", "parse_warc_records",
        ),
        "html_responses": ("horus_spark.sources.warc", "html_responses"),
        "stream_html_ingest": (
            "horus_spark.streaming.incremental", "stream_html_ingest",
        ),
        "parse_robots": ("horus_spark.operators.robots", "parse_robots"),
        "apply_robots": ("horus_spark.operators.robots", "apply_robots"),
        "template_digests": (
            "horus_spark.operators.templates", "template_digests",
        ),
        "flag_templates": (
            "horus_spark.operators.templates", "flag_templates",
        ),
        "clean_pages": ("horus_spark.operators.templates", "clean_pages"),
        "frontier_update": (
            "horus_spark.operators.frontier", "frontier_update",
        ),
        "parse_sitemaps": (
            "horus_spark.operators.sitemap", "parse_sitemaps",
        ),
        "trap_families": ("horus_spark.operators.urls", "trap_families"),
        "url_family_expr": (
            "horus_spark.operators.urls", "url_family_expr",
        ),
        "anchor_stats": ("horus_spark.operators.anchors", "anchor_stats"),
        "resolve_redirects": (
            "horus_spark.operators.redirects", "resolve_redirects",
        ),
        "host_mirror_pairs": (
            "horus_spark.operators.mirrors", "host_mirror_pairs",
        ),
        "crawl_delta": ("horus_spark.operators.recrawl", "crawl_delta"),
        "host_change_rates": (
            "horus_spark.operators.recrawl", "host_change_rates",
        ),
        "pq_codebooks": ("horus_spark.operators.pq", "pq_codebooks"),
        "pq_encode": ("horus_spark.operators.pq", "pq_encode"),
        "ivf_pq_topk": ("horus_spark.operators.pq", "ivf_pq_topk"),
        "semantic_decontaminate": (
            "horus_spark.operators.semdedup", "semantic_decontaminate",
        ),
        "extract_tables": ("horus_spark.operators.html", "extract_tables"),
        "table_shapes": ("horus_spark.operators.html", "table_shapes"),
        "page_outline": ("horus_spark.operators.html", "page_outline"),
        "section_chunks": ("horus_spark.operators.html", "section_chunks"),
        "parse_feeds": ("horus_spark.operators.feeds", "parse_feeds"),
        "maxscore_topk": (
            "horus_spark.operators.ranking", "maxscore_topk",
        ),
        "split_sentences": (
            "horus_spark.operators.sentences", "split_sentences",
        ),
        "sentence_stats": (
            "horus_spark.operators.sentences", "sentence_stats",
        ),
        "readability": ("horus_spark.operators.sentences", "readability"),
        "label_propagation": (
            "horus_spark.operators.graph", "label_propagation",
        ),
        "canonicalize_url_expr": (
            "horus_spark.operators.urls", "canonicalize_url_expr",
        ),
        "registered_domain_expr": (
            "horus_spark.operators.urls", "registered_domain_expr",
        ),
        "span_corruption_plan": (
            "horus_spark.operators.masking", "span_corruption_plan",
        ),
        "add_bloom_index": (
            "horus_spark.sources.sink", "add_bloom_index",
        ),
        "read_lookup": ("horus_spark.sources.sink", "read_lookup"),
        "catalog_fsck": ("horus_spark.sources.sink", "catalog_fsck"),
        "stream_feed_ingest": (
            "horus_spark.streaming.incremental", "stream_feed_ingest",
        ),
        "ul2_denoiser_plan": (
            "horus_spark.operators.masking", "ul2_denoiser_plan",
        ),
        "sentence_windows": (
            "horus_spark.operators.sentences", "sentence_windows",
        ),
        "pairwise_moments": (
            "horus_spark.operators.profile", "pairwise_moments",
        ),
        "percentile_normalize": (
            "horus_spark.operators.priors", "percentile_normalize",
        ),
        "sitemap_urls": ("horus_spark.operators.robots", "sitemap_urls"),
        "citation_stats": (
            "horus_spark.operators.textstats", "citation_stats",
        ),
        "tables_to_records": (
            "horus_spark.operators.html", "tables_to_records",
        ),
        "margin_bitext_pairs": (
            "horus_spark.operators.bitext", "margin_bitext_pairs",
        ),
        "ivf_bitext_candidates": (
            "horus_spark.operators.bitext", "ivf_bitext_candidates",
        ),
        "best_snippet": ("horus_spark.operators.ranking", "best_snippet"),
        "resolve_aliases": (
            "horus_spark.operators.redirects", "resolve_aliases",
        ),
        "curriculum_order": (
            "horus_spark.operators.indexing", "curriculum_order",
        ),
        "rare_combinations": (
            "horus_spark.operators.pii", "rare_combinations",
        ),
        "class_tfidf_labels": (
            "horus_spark.operators.labeling", "class_tfidf_labels",
        ),
        "extract_jsonld": ("horus_spark.operators.html", "extract_jsonld"),
        "extract_microdata": (
            "horus_spark.operators.html", "extract_microdata",
        ),
        "extract_hreflang": (
            "horus_spark.operators.html", "extract_hreflang",
        ),
        "metadata_agreement": (
            "horus_spark.operators.html", "metadata_agreement",
        ),
        "trustrank": ("horus_spark.operators.graph", "trustrank"),
    }
    if name in _API:
        import importlib

        mod, attr = _API[name]
        return getattr(importlib.import_module(mod), attr)
    raise AttributeError(f"module 'horus_spark' has no attribute {name!r}")
