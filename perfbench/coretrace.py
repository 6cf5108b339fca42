"""Single-thread layer tracer for the per-document library.

Replays ``extract_record`` through the public calls it is made of, one
span per layer, and checks that the decomposed path returns the same
text byte for byte:

    xref       PDFDocument(data) + trailer
    pages      page-tree walk + media boxes
    decode     Page.join_contents (content-stream filters)
    fonts      Resources.get_font for every font the page names
    interpret  render_text_spans (content-stream interpreter)
    cluster    group_lines / partition_words / group_columns / split_paragraphs
    assemble   paper_from_paragraphs + paper_to_string

The fonts span and the interpreter get the same ``Resources`` object:
``Page.resources`` builds a new one on each access, and fonts given
inline are only cached per ``Resources``, so loading them on a second
object would charge font loading to the interpreter.
"""
from __future__ import annotations

import random
import time

from pdfi_spark.core.api import extract_record
from pdfi_spark.core.assemble import paper_from_paragraphs, paper_to_string, render_text_spans
from pdfi_spark.core.doc import ContentStream, PDFDocument
from pdfi_spark.core.geometry import make_rectangle
from pdfi_spark.core.layout import group_columns, group_lines, partition_words, split_paragraphs
from pdfi_spark.core.objects import as_array

SPANS = ("xref", "pages", "decode", "fonts", "interpret", "cluster", "assemble")
WARMUP_DOCS = 10


def trace_document(data: bytes) -> tuple[str, dict[str, float], int]:
    """Extract ``data`` span by span -> (text, seconds per span, n_spans)."""
    clock = time.perf_counter
    spent = dict.fromkeys(SPANS, 0.0)
    n_spans = 0

    t0 = clock()
    doc = PDFDocument(data)
    doc.trailer  # noqa: B018 - reads the xref chain
    t1 = clock()
    pages = doc.pages
    boxes = [page.media_box for page in pages]
    t2 = clock()
    spent["xref"] += t1 - t0
    spent["pages"] += t2 - t1

    paragraphs: list[dict] = []
    for page, box in zip(pages, boxes):
        t0 = clock()
        content = page.join_contents(b"\n")
        t1 = clock()
        resources = page.resources
        for name in resources.get("Font") or {}:
            resources.get_font(name)
        t2 = clock()
        text_spans = render_text_spans(make_rectangle(*box[:4]), content, resources)
        t3 = clock()
        lines = group_lines(text_spans)
        line_containers = [
            {
                "minX": ln["minX"], "minY": ln["minY"],
                "maxX": ln["maxX"], "maxY": ln["maxY"],
                "elements": partition_words(ln["elements"]),
            }
            for ln in lines
        ]
        for column in group_columns(line_containers):
            paragraphs.extend(split_paragraphs(column))
        t4 = clock()
        spent["decode"] += t1 - t0
        spent["fonts"] += t2 - t1
        spent["interpret"] += t3 - t2
        spent["cluster"] += t4 - t3
        n_spans += len(text_spans)

    t0 = clock()
    text = paper_to_string(paper_from_paragraphs(paragraphs))
    spent["assemble"] += clock() - t0
    return text, spent, n_spans


def content_bytes(data: bytes) -> tuple[int, int]:
    """(encoded, decoded) content-stream bytes over all pages."""
    doc = PDFDocument(data)
    encoded = decoded = 0
    for page in doc.pages:
        for stream in as_array(doc.resolve(page.object.get("Contents"))):
            model = ContentStream(doc, stream)
            encoded += len(model.object["buffer"])
            decoded += len(model.buffer)
    return encoded, decoded


def _timed(fn, *args):
    t0 = time.perf_counter()
    result = fn(*args)
    return result, time.perf_counter() - t0


def trace(payloads: dict[str, bytes], n_docs: int, seed: int) -> dict[str, float]:
    """Trace a seeded sample of ``payloads``; return the ``core.*`` metrics.

    Raises if the decomposed path's text differs from ``extract_record``.
    """
    urls = sorted(payloads)
    sample = random.Random(seed).sample(urls, min(n_docs + WARMUP_DOCS, len(urls)))
    spent = dict.fromkeys(SPANS, 0.0)
    api_s = traced_s = 0.0
    n_spans = encoded = decoded = 0
    for i, url in enumerate(sample):
        data = payloads[url]
        # the path that meets a document first pays its cold caches:
        # alternate, so that neither path always runs cold
        if i % 2:
            (text, doc_spent, doc_spans), traced_dt = _timed(trace_document, data)
            record, api_dt = _timed(extract_record, url, data)
        else:
            record, api_dt = _timed(extract_record, url, data)
            (text, doc_spent, doc_spans), traced_dt = _timed(trace_document, data)
        if text != record["text"]:
            raise RuntimeError(f"traced path differs from extract_record on {url}")
        if i < WARMUP_DOCS:
            continue
        api_s += api_dt
        traced_s += traced_dt
        for name in SPANS:
            spent[name] += doc_spent[name]
        n_spans += doc_spans
        enc, dec = content_bytes(data)
        encoded += enc
        decoded += dec

    n = len(sample) - WARMUP_DOCS
    per_doc_ms = {name: spent[name] * 1000.0 / n for name in SPANS}
    return {
        "core.doc.xref_ms": per_doc_ms["xref"],
        "core.doc.pages_ms": per_doc_ms["pages"],
        "core.filters.decode_ms": per_doc_ms["decode"],
        "core.filters.bytes_out_per_in": decoded / encoded,
        "core.fonts.load_ms": per_doc_ms["fonts"],
        "core.content.interpret_ms": per_doc_ms["interpret"],
        "core.content.spans_per_doc": n_spans / n,
        "core.layout.cluster_ms": per_doc_ms["cluster"],
        "core.assemble.ms": per_doc_ms["assemble"],
        "core.api.extract_ms": api_s * 1000.0 / n,
        "core.api.docs_per_s_1thread": n / api_s,
        "core.trace_overhead": traced_s / api_s,
        "core.span_coverage": sum(spent.values()) / traced_s,
    }
