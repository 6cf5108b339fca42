"""Seeded benchmark inputs.

Every input is a pure function of its seed: the same seed gives the same
documents, the same malformed rows and the same jumbo placement. Texts
follow the shape of the repository's ``documents`` table (a 30-word vocabulary, 10-100 words per document, 5%
exact copies carrying a trailing ``dup`` token), so the program sees
inputs like the ones its tests use without reading anything outside the
checkout.
"""
from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pdfi_spark.core.pdfgen import build_pdf
from pdfi_spark.datagen import url_for

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "en", "en", "en", "en", "en", "en", "en",
         "zh", "zh", "zh", "es", "es", "es", "fr", "fr", "fr", "de", "de", "de"]
N_SOURCES = 20
DUP_SHARE = 0.05

# malformed payloads: truncation drops the trailing startxref marker, so
# each one must come back as an error row, never as text or a task failure
MALFORMED_SHARE = 0.01
HEAVY_REPEAT = 10    # ~6 KB multi-page PDFs
JUMBO_REPEAT = 60    # ~33 KB multi-page PDFs, ~5x the per-document work
# 3% keeps p99 inside the jumbo mode (a 1% share would put it on the edge)
JUMBO_SHARE = 0.03


def texts(rng: random.Random, n: int, shape: random.Random | None = None) -> list[str]:
    """n document texts; about one in 20 is an earlier text plus ' dup'.

    ``shape`` (``rng`` when not given) draws each text's length and which
    texts are copies; ``rng`` draws the words.
    """
    shape = shape or rng
    out: list[str] = []
    for _ in range(n):
        if out and shape.random() < DUP_SHARE:
            out.append(out[shape.randrange(len(out))] + " dup")
        else:
            out.append(" ".join(rng.choice(VOCAB) for _ in range(shape.randint(10, 100))))
    return out


@dataclass
class PdfCorpus:
    """Materialized PDF corpus and what the program must return for it.

    ``path`` holds the input files. The expected text of each valid
    document sits in ``golden_path``, beside them, so that the benchmark
    holds no copy of it in memory while the program runs. ``malformed``
    is the set of urls whose payload is truncated or NULL.
    """

    path: str
    golden_path: str
    malformed: set[str]
    n_docs: int

    def golden(self) -> dict[str, str]:
        """url -> expected text of every valid document."""
        table = pq.read_table(self.golden_path).to_pydict()
        return dict(zip(table["url"], table["text"]))

    def payloads(self) -> dict[str, bytes]:
        """url -> PDF bytes of every valid document, read back from the input files."""
        table = pq.read_table(self.path, columns=["url", "html"]).to_pydict()
        return {url: pdf for url, pdf in zip(table["url"], table["html"])
                if url not in self.malformed}


def _write_corpus(path: str, urls: list[str], payloads: list, n_files: int,
                  golden: dict[str, str], malformed: set[str]) -> PdfCorpus:
    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path)
    n = len(urls)
    for f in range(n_files):
        lo, hi = f * n // n_files, (f + 1) * n // n_files
        table = pa.table({
            "url": pa.array(urls[lo:hi], pa.string()),
            "html": pa.array(payloads[lo:hi], pa.binary()),
        })
        pq.write_table(table, os.path.join(path, f"part-{f:03d}.parquet"))
    golden_path = path + "-golden.parquet"
    pq.write_table(pa.table({"url": pa.array(list(golden), pa.string()),
                             "text": pa.array(list(golden.values()), pa.string())}),
                   golden_path)
    return PdfCorpus(path, golden_path, malformed, n)


def heavy_skewed(path: str, seed: int, n_docs: int, n_files: int) -> PdfCorpus:
    """~6 KB multi-page PDFs plus 3% jumbo ones, the jumbo documents in
    the last input files (a crawl segment of big documents), and a fixed
    1% of the ordinary ones truncated or NULL.

    The seed picks the words and the malformed documents. Text lengths,
    jumbo positions and urls (so the bucket of each position) are the
    same for every seed: each input file and each wave of buckets gets
    the same work, and the runs of different seeds time the same load.
    """
    rng = random.Random(seed)
    n_jumbo = round(n_docs * JUMBO_SHARE)
    base = texts(rng, n_docs, shape=random.Random(0))
    bad = set(rng.sample(range(n_docs - n_jumbo), max(2, round(n_docs * MALFORMED_SHARE))))
    urls, payloads, golden, malformed = [], [], {}, set()
    for i, text in enumerate(base):
        repeat = JUMBO_REPEAT if i >= n_docs - n_jumbo else HEAVY_REPEAT
        pdf, expected = build_pdf(" ".join([text] * repeat), "multipage", per_block=40)
        url = url_for(i)
        if i in bad:
            malformed.add(url)
            pdf = None if rng.random() < 0.5 else pdf[: len(pdf) // 2]
        else:
            golden[url] = expected
        urls.append(url)
        payloads.append(pdf)
    return _write_corpus(path, urls, payloads, n_files, golden, malformed)


def curate_tables(path: str, n_docs: int, n_vectors: int, seed: int = 0) -> str:
    """``documents`` and ``embeddings`` parquet tables in the test tables'
    schema: unit-norm 64-d float32 vectors around 10 labelled centres."""
    rng = random.Random(seed)
    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path)
    doc_texts = texts(rng, n_docs)
    documents = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(doc_texts, pa.string()),
        "lang": pa.array([rng.choice(LANGS) for _ in range(n_docs)], pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in doc_texts], pa.int64()),
    })
    pq.write_table(documents, os.path.join(path, "documents.parquet"))

    gen = np.random.default_rng(seed)
    labels = gen.integers(0, 10, n_vectors).astype(np.int32)
    centres = gen.normal(0.0, 0.07, (10, 64))
    vectors = centres[labels] + gen.normal(0.0, 1.0, (n_vectors, 64))
    vectors = (vectors / np.linalg.norm(vectors, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(range(n_vectors), pa.int64()),
        "embedding": pa.array(list(vectors), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    pq.write_table(embeddings, os.path.join(path, "embeddings.parquet"))
    return path
