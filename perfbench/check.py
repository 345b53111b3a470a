"""Correctness gate: the committed table against the single-thread oracle.

Reads the committed snapshot with pyarrow (not Spark), so the check
shares no code path with the job it checks.
"""

from __future__ import annotations

from collections import Counter

import pyarrow.dataset as ds

from ocr_devnagari_spark.sources.icebox import IceboxTable

COLUMNS = ["url", "text", "success", "backend_used", "duplicate_of"]


def committed_rows(table_path: str) -> dict:
    """The current snapshot's rows as column lists."""
    m = IceboxTable(table_path).current_manifest()
    if m is None or not m["files"]:
        return {c: [] for c in COLUMNS}
    return ds.dataset(m["files"], format="parquet").to_table(
        columns=COLUMNS).to_pydict()


def mismatched_urls(table_path: str, oracle: dict,
                    expected_dup: dict) -> int:
    """Urls whose committed (text, success, backend_used) or duplicate_of
    differs from the oracle, plus urls lost, unexpected or committed more
    than once."""
    rows = committed_rows(table_path)
    urls = rows["url"]
    counts = Counter(urls)
    bad = sum(c - 1 for c in counts.values())             # duplicated
    bad += len(oracle.keys() - counts.keys())             # lost
    bad += len(counts.keys() - oracle.keys())             # unexpected
    for url, text, ok, backend, dup in zip(
            urls, rows["text"], rows["success"], rows["backend_used"],
            rows["duplicate_of"]):
        want = oracle.get(url)
        if want is not None and ((text, ok, backend) != want
                                 or dup != expected_dup.get(url)):
            bad += 1
    return bad
