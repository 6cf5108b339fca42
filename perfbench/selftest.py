#!/usr/bin/env python3
"""Self-test of the benchmark's output checks (no Spark session needed).

    python3 perfbench/selftest.py

Builds a small seeded corpus, extracts it with the per-document library,
and shows that the checks feeding ``failed`` (and so ``ok_share``) count
zero failures on correct output and exactly one for each injected fault:
a corrupted golden string, a lost error row, a missing document, a
repeated row, and an operator result whose hash differs from its DuckDB
twin's.
"""
from __future__ import annotations

import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import pandas as pd  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import corpus  # noqa: E402
from pdfi_spark.core.api import extract_record  # noqa: E402
from tools.check_oracles import canon  # noqa: E402
from workloads import OPERATORS, check_extraction, check_operators  # noqa: E402


def expect(label: str, got: tuple[int, int], failed: int) -> None:
    attempted, n_failed = got
    status = "ok" if n_failed == failed else "WRONG"
    print(f"{status:5s} {label}: failed {n_failed}/{attempted} (want {failed})")
    if n_failed != failed:
        raise SystemExit(1)


def main() -> int:
    with tempfile.TemporaryDirectory(dir=os.path.dirname(HERE)) as tmp:
        corp = corpus.heavy_skewed(os.path.join(tmp, "c"), seed=7, n_docs=200, n_files=2)
        table = pq.read_table(corp.path).to_pydict()
        golden, malformed = corp.golden(), corp.malformed
    rows = []
    for url, payload in zip(table["url"], table["html"]):
        if payload is None:  # what extract_text returns for a NULL payload
            rows.append((url, None, "TypeError: null payload"))
        else:
            record = extract_record(url, payload)
            rows.append((url, record["text"], record["error"]))

    expect("correct output", check_extraction(rows, golden, malformed), 0)
    url = sorted(golden)[0]
    corrupted = {**golden, url: golden[url] + " "}
    expect("one corrupted golden string", check_extraction(rows, corrupted, malformed), 1)
    bad = sorted(malformed)[0]
    no_error = [(u, "", None) if u == bad else (u, t, e) for u, t, e in rows]
    expect("malformed document without error row", check_extraction(no_error, golden, malformed), 1)
    expect("missing document", check_extraction(rows[1:], golden, malformed), 1)
    expect("repeated row", check_extraction(rows + rows[:1], golden, malformed), 1)

    frame = pd.DataFrame({"doc_id": [1, 2], "score": [0.5, 0.25]})
    hashes = {name: canon(frame) for name in OPERATORS}
    expect("operators equal to their twins", check_operators(hashes, dict(hashes)), 0)
    drifted = dict(hashes, semdedup=canon(frame.assign(score=[0.5, 0.250001])))
    expect("one operator hash mismatch", check_operators(hashes, drifted), 1)
    expect("operator that raised", check_operators(dict(hashes, semdedup=None), hashes), 1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
