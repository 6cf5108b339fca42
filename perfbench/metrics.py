"""Metric names and units the benchmark prints (BENCHMARK.json lists the
same names)."""
from __future__ import annotations

END_TO_END = {
    "docs_per_s": "docs/s",
    "ok_share": "share",        # 1 - failed_share
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "resume_s": "s",
}
OPERATOR_UNITS = {"s": "s", "jobs": "count", "stages": "count", "shuffle_bytes": "bytes"}
PER_LAYER = {
    "core.doc.xref_ms": "ms",
    "core.doc.pages_ms": "ms",
    "core.filters.decode_ms": "ms",
    "core.filters.bytes_out_per_in": "ratio",
    "core.fonts.load_ms": "ms",
    "core.content.interpret_ms": "ms",
    "core.content.spans_per_doc": "count",
    "core.layout.cluster_ms": "ms",
    "core.assemble.ms": "ms",
    "core.api.extract_ms": "ms",
    "core.api.docs_per_s_1thread": "docs/s",
    "core.trace_overhead": "ratio",
    "core.span_coverage": "ratio",
    "pipeline.shuffle_write_bytes": "bytes",
    "pipeline.shuffle_fetch_wait_ms": "ms",
    "pipeline.spill_bytes": "bytes",
    "pipeline.python_boot_ms": "ms",
    "pipeline.python_total_ms": "ms",
    "pipeline.python_data_sent_bytes": "bytes",
    "pipeline.slot_busy_share": "ratio",
    "pipeline.udf_share": "ratio",
    "pipeline.gc_ms": "ms",
    "pipeline.task_skew": "ratio",
    "pipeline.doc_ms_p50": "ms",
    "pipeline.doc_ms_p99": "ms",
    "pipeline.output_bytes_per_doc": "bytes",
    "pipeline.buckets_skipped": "count",
}
OPERATORS = [
    "dedup_exact", "token_counts", "tfidf_top_terms", "unigram_surprisal",
    "paragraph_dedup", "dedup_clusters_128", "semdedup",
    "link_graph_pagerank", "html_boiler",
]
for _op in OPERATORS:
    for _suffix, _unit in OPERATOR_UNITS.items():
        PER_LAYER[f"ops.{_op}_{_suffix}"] = _unit

# layers a workload does not run report 0: no PDF is parsed by curate_ops,
# no curation operator runs in the extraction workloads
_NO_PDF = [m for m in PER_LAYER if m.startswith("core.")] + [
    "pipeline.udf_share", "pipeline.doc_ms_p50", "pipeline.doc_ms_p99",
    "pipeline.output_bytes_per_doc", "pipeline.buckets_skipped",
]
NOT_RUN = {
    "extract_heavy_checkpointed": [m for m in PER_LAYER if m.startswith("ops.")],
    "curate_ops": _NO_PDF,
}
