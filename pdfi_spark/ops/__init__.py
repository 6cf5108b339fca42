"""Large-scale training-data operators over the documents/embeddings tables.

Most operators are DataFrame operations over built-in (JVM-side,
codegen'd) functions. Python runs only inside Arrow-batched
``mapInPandas`` passes, never as row-at-a-time UDFs:

- dedup's numpy folds (MinHash-128 signatures, SimHash, shingles);
- IVF cell assignment (similarity);
- webtext's HTML/WARC/robots parsing and page building;
- the multimodal decode and resize stubs.

Each operator has an ANSI-SQL oracle twin in __spark_entry__.oracle_sql().
"""
from .dedup import (dedup_clusters, dedup_clusters_128, dedup_exact,
                    exact_substring_dup, exact_substring_excise,
                    minhash128_jaccard_estimates, minhash128_lsh_buckets,
                    minhash128_signatures, minhash_lsh_buckets,
                    minhash_signatures, ngram_jaccard_pairs, simhash,
                    simhash_neardup_pairs)
from .multimodal import media_feature_summary, media_features, media_metadata, media_resize
from .relational import (asof_join_events, json_props_stats, nation_revenue_topk,
                         q1_pricing_summary, q4_order_priority,
                         q3_shipping_priority, q5_local_supplier_volume,
                         q14_promo_revenue, q18_large_volume_customer,
                         range_join_counts, top_events_per_user)
from .similarity import (
    cosine_adjacent_pairs,
    cosine_topk,
    embedding_neardup_topk,
    ivf_topk_nprobe,
    ivf_train_cells,
    kmeans_codebook,
    ivf_cell_counts,
    ivf_topk,
    lsh_ann_buckets,
    pq_codes,
    pq_topk,
    pq_topk_refine,
    semdedup,
)
from .webtext import (anchor_text_index, bloom_dedup_gate, cdx_index,
                      corpus_build_counts,
                      crawl_diff, incremental_content_dedup,
                      frontier_schedule, host_url_hll, html_block_stats,
                      html_content_spans,
                      html_main_content, html_outlinks,
                      paragraph_dedup,
                      link_graph_degrees, link_graph_hits,
                      link_graph_pagerank,
                      link_graph_pagerank_dangling, link_graph_triangles,
                      host_cap_sample, host_stats,
                      read_warc_pages, robots_filter,
                      strip_boilerplate,
                      url_canonicalize, url_dedup_counts, warc_extract,
                      wet_export)
from .textstats import (
    cms_heavy_hitters,
    length_histogram_quantiles,
    pmi_collocations,
    weighted_sample,
    corpus_stats,
    decontaminate,
    length_percentiles,
    doc_fingerprint,
    quality_filter,
    repetition_scores,
    stratified_sample,
    lang_balance_sample,
    tfidf_top_terms,
    unigram_surprisal,
    surprisal_buckets,
    bm25_topk,
    pack_training_shards,
    training_shuffle_manifest,
    bigram_surprisal,
    pii_scrub,
    lang_id_ngram,
    lang_stopword_counts,
    quality_scores,
    token_counts,
)

__all__ = [
    "dedup_exact", "dedup_clusters", "dedup_clusters_128",
    "minhash_signatures", "minhash_lsh_buckets",
    "minhash128_signatures", "minhash128_lsh_buckets",
    "minhash128_jaccard_estimates", "simhash",
    "ngram_jaccard_pairs", "simhash_neardup_pairs", "pii_scrub",
    "anchor_text_index", "frontier_schedule", "paragraph_dedup",
    "crawl_diff", "incremental_content_dedup", "bloom_dedup_gate",
    "exact_substring_dup", "exact_substring_excise", "bm25_topk",
    "surprisal_buckets",
    "pack_training_shards", "training_shuffle_manifest",
    "bigram_surprisal", "pmi_collocations", "weighted_sample", "cosine_topk", "cosine_adjacent_pairs",
    "semdedup",
    "lsh_ann_buckets", "embedding_neardup_topk", "ivf_cell_counts", "ivf_topk", "ivf_train_cells", "ivf_topk_nprobe", "kmeans_codebook",
    "pq_codes", "pq_topk", "pq_topk_refine",
    "lang_stopword_counts", "lang_id_ngram", "quality_scores", "token_counts", "cms_heavy_hitters",
    "doc_fingerprint", "decontaminate", "corpus_stats", "length_percentiles", "length_histogram_quantiles", "quality_filter", "repetition_scores", "stratified_sample", "lang_balance_sample", "tfidf_top_terms", "unigram_surprisal", "media_metadata", "media_features",
    "media_feature_summary", "media_resize", "nation_revenue_topk", "q1_pricing_summary", "q4_order_priority", "q3_shipping_priority", "q5_local_supplier_volume", "q14_promo_revenue", "q18_large_volume_customer", "link_graph_triangles", "top_events_per_user", "asof_join_events", "range_join_counts", "json_props_stats",
    "html_main_content", "html_block_stats", "strip_boilerplate",
    "html_outlinks", "html_content_spans", "corpus_build_counts",
    "link_graph_degrees",
    "link_graph_hits", "link_graph_pagerank",
    "link_graph_pagerank_dangling",
    "host_cap_sample", "host_stats", "host_url_hll", "read_warc_pages", "robots_filter", "url_canonicalize", "url_dedup_counts",
    "warc_extract", "wet_export", "cdx_index",
]
