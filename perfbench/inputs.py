"""Seeded benchmark inputs and the single-thread oracle.

The seed picks a doc-id window of ``corpus.gen_page`` and, for
``resume_dedup``, which committed pages are re-crawled under new urls.
``resume_dedup``'s committed base window is the same for every seed, so
that the program commits it once per checkout (see ``run.py``); the seed
picks the new urls that arrive on top of it.
The program under test sees only the parquet files written here; the
oracle (``extract_core.extract_document`` run one document at a time)
and the truth-derived input properties stay on the benchmark side.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field
from datetime import timedelta

import pyarrow as pa
import pyarrow.parquet as pq

import procmon
from ocr_devnagari_spark.corpus import PAGES_SCHEMA, gen_page
from ocr_devnagari_spark.extract_core import extract_document

# Docs per workload.  resume_dedup: a committed base window, then ~10% new
# urls of which 30% are exact re-crawl copies of committed pages.  The 30%
# is an assumption, not a measured crawl figure (see README.md).
SIZES = {
    "cold_mixed": {"docs": 4000},
    "resume_dedup": {"base": 2000, "fresh": 140, "recrawl": 60},
}
# first doc id of resume_dedup's base window; seeded windows start at 10**6
BASE_START = 0
ROW_GROUP = 250


@dataclass
class Inputs:
    """One job's input and what the committed table must hold after it."""
    corpus_dir: str                  # holds pages.parquet/ (the job input)
    oracle: dict                     # url -> (text, success, backend_used)
    expected_dup: dict               # url -> duplicate_of, only non-null
    pending: int                     # docs the job has to extract
    # resume_dedup: the base window, committed by an untimed job first
    base: "Inputs | None" = None
    props: dict = field(default_factory=dict)
    oracle_extract_s: float = 0.0    # summed single-thread extract time
    precise_useful_frac: float = 0.0  # of the pending docs' escalations


def window_start(workload: str, seed: int) -> int:
    return random.Random(f"perfbench:{workload}:{seed}").randrange(
        10**6, 10**9)


def _chunks(items: list, n: int) -> list:
    step = -(-len(items) // n)
    return [items[i:i + step] for i in range(0, len(items), step)]


def plan(workload: str, seed: int, n_parts: int,
         sizes: dict | None = None) -> tuple[list, int]:
    """(page_parts, n_base_parts): each part is a list of (doc_id, recrawl).

    The first ``n_base_parts`` parts hold the docs committed before the
    timed job.  The new urls (fresh pages and re-crawl copies, shuffled
    together) arrive as their own part files, as a new crawl batch would.
    """
    sz = sizes or SIZES[workload]
    start = window_start(workload, seed)
    if workload == "cold_mixed":
        ids = [(i, False) for i in range(start, start + sz["docs"])]
        return _chunks(ids, n_parts), 0
    if workload != "resume_dedup":
        raise ValueError(f"unknown workload {workload!r}")
    base = list(range(BASE_START, BASE_START + sz["base"]))
    rng = random.Random(f"perfbench:recrawl:{seed}")
    fresh = [(i, False) for i in range(start, start + sz["fresh"])]
    new = fresh + [(i, True) for i in rng.sample(base, sz["recrawl"])]
    rng.shuffle(new)
    base_parts = _chunks([(i, False) for i in base], n_parts)
    return base_parts + _chunks(new, max(1, n_parts // 2)), len(base_parts)


def _page(doc_id: int, recrawl: bool) -> dict:
    row = gen_page(doc_id)
    if recrawl:   # same payload, new url, crawled a month later
        row["url"] = row["url"].replace("/a/", "/r/", 1)
        row["warc_ts"] = row["warc_ts"] + timedelta(days=30)
    return row


def make_part(path: str, specs: list) -> tuple[list, float]:
    """Write one pages part file; return per-doc records and the seconds
    spent inside ``extract_document`` (one thread, one doc at a time)."""
    recs, rows, extract_s = [], [], 0.0
    for doc_id, recrawl in specs:
        row = _page(doc_id, recrawl)
        rows.append({k: row[k] for k in PAGES_SCHEMA.names})
        t0 = time.perf_counter()
        res = extract_document(row["url"], row["html"])
        extract_s += time.perf_counter() - t0
        res["fingerprint"] = hashlib.md5(res["text"].encode()).hexdigest()
        res["doc_id"] = doc_id
        res["html_bytes"] = len(row["html"])
        res["host"] = row["url"].split("/")[2]
        res["truth_escalation"] = bool(row["critical"] or row["adversarial"]
                                       or row["is_pdf"])
        res["is_pdf"] = row["is_pdf"]
        recs.append(res)
    pq.write_table(pa.Table.from_pylist(rows, schema=PAGES_SCHEMA), path,
                   compression="zstd", row_group_size=ROW_GROUP)
    return recs, extract_s


def _make_part_star(args):
    return make_part(*args)


def expected_duplicates(base: list, new: list) -> dict:
    """url -> duplicate_of for the rows of ``new`` after an exact-dedup job
    over ``new`` on a table holding ``base`` (itself committed by an
    exact-dedup job, so its canonical url per fingerprint is the least
    one): the committed canonical url wins, else the least url of a
    fingerprint repeated inside the batch."""
    prior: dict = {}
    for r in base:
        fp = r["fingerprint"]
        prior[fp] = min(prior.get(fp, r["url"]), r["url"])
    batch: dict = {}
    for r in new:
        batch.setdefault(r["fingerprint"], []).append(r["url"])
    out = {}
    for fp, urls in batch.items():
        keep = prior.get(fp) or (min(urls) if len(urls) > 1 else None)
        for u in urls:
            if keep is not None and u != keep:
                out[u] = keep
    return out


def build(workload: str, seed: int, out_dir: str, n_parts: int,
          procs: int, sizes: dict | None = None) -> Inputs:
    """Generate the workload's pages (``n_parts`` part files per window)
    and oracle under ``out_dir``.

    ``procs`` = 1 runs generation and oracle in this process (the
    single-thread baseline); more spreads whole part files over spawned
    processes, each still extracting one document at a time.  The files
    written do not depend on ``procs``.

    For ``resume_dedup`` the base window's part files are also kept alone
    under ``out_dir/base``: the input of the untimed job that commits the
    base before the timed one.
    """
    parts, n_base_parts = plan(workload, seed, n_parts, sizes)
    pages_dir = os.path.join(out_dir, "pages.parquet")
    base_dir = os.path.join(out_dir, "base")
    os.makedirs(pages_dir)
    if n_base_parts:
        os.makedirs(os.path.join(base_dir, "pages.parquet"))
    tasks = [(os.path.join(base_dir if i < n_base_parts else out_dir,
                           "pages.parquet", f"part-{i:05d}.parquet"), specs)
             for i, specs in enumerate(parts)]
    if procs <= 1:
        results = [make_part(*t) for t in tasks]
    else:
        results = procmon.spawn_map(_make_part_star, tasks, procs,
                                    timeout=150)
    for path, _ in tasks[:n_base_parts]:
        shutil.copyfile(path, os.path.join(pages_dir,
                                           os.path.basename(path)))
    recs = [r for part, _ in results for r in part]
    base = [r for part, _ in results[:n_base_parts] for r in part]
    new = [r for part, _ in results[n_base_parts:] for r in part]
    # only resume_dedup (the workload with a base) runs with dedup='exact'
    base_dup = expected_duplicates([], base) if base else {}
    inp = Inputs(
        corpus_dir=out_dir,
        oracle=_oracle(recs),
        expected_dup={**base_dup, **expected_duplicates(base, new)}
        if base else {},
        pending=len(new),
        oracle_extract_s=sum(s for _, s in results),
        precise_useful_frac=precise_useful(new))
    if base:
        inp.base = Inputs(corpus_dir=base_dir, oracle=_oracle(base),
                          expected_dup=base_dup, pending=len(base))
    inp.props = properties(recs, new)
    return inp


def _oracle(recs: list) -> dict:
    return {r["url"]: (r["text"], r["success"], r["backend_used"])
            for r in recs}


def precise_useful(recs: list) -> float:
    """Escalations whose precise text validated ÷ escalations.  An
    escalated doc keeps ``error`` null only when its precise text
    validated (``extract_core.extract_document``)."""
    esc = [r["error"] for r in recs if r["backend_used"] == "fast+precise"]
    return sum(e is None for e in esc) / len(esc) if esc else 0.0


def properties(recs: list, pending: list) -> dict:
    """Shape of the input, recorded next to every run's metrics."""
    n = len(recs)
    fps = Counter(r["fingerprint"] for r in recs)
    hosts = Counter(r["host"] for r in recs)
    return {
        "input.docs": n,
        "input.pending_docs": len(pending),
        "input.html_bytes": sum(r["html_bytes"] for r in recs),
        "input.pdf_frac": sum(r["is_pdf"] for r in recs) / n,
        "input.truth_escalation_frac":
            sum(r["truth_escalation"] for r in recs) / n,
        "input.dup_frac":
            sum(fps[r["fingerprint"]] > 1 for r in pending) / len(pending),
        "input.top_host_frac": hosts.most_common(1)[0][1] / n,
    }
