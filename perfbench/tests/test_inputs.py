"""The seeded input generator: same seed, same bytes; other seed, other
new urls with the same shape (resume_dedup's committed base window is the
same for every seed)."""

import glob
import hashlib
import os

import pyarrow.parquet as pq
import pytest

import inputs

SMALL = {"cold_mixed": {"docs": 60},
         "resume_dedup": {"base": 60, "fresh": 8, "recrawl": 4}}


def _build(tmp_path, workload, seed, name, procs=1):
    return inputs.build(workload, seed, str(tmp_path / name), n_parts=4,
                        procs=procs, sizes=SMALL[workload])


def _files(corpus_dir):
    return sorted(glob.glob(os.path.join(corpus_dir, "pages.parquet",
                                         "*.parquet")))


def _digest(corpus_dir):
    h = hashlib.sha256()
    for f in _files(corpus_dir):
        h.update(os.path.relpath(f, corpus_dir).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


@pytest.mark.parametrize("workload", sorted(SMALL))
def test_same_seed_gives_identical_inputs(tmp_path, workload):
    a = _build(tmp_path, workload, 7, "a")
    b = _build(tmp_path, workload, 7, "b")
    assert _files(a.corpus_dir)
    assert _digest(a.corpus_dir) == _digest(b.corpus_dir)
    assert (a.oracle, a.expected_dup, a.props) == \
        (b.oracle, b.expected_dup, b.props)


@pytest.mark.parametrize("workload", sorted(SMALL))
def test_other_seed_gives_other_urls_same_shape(tmp_path, workload):
    a = _build(tmp_path, workload, 7, "a")
    c = _build(tmp_path, workload, 8, "c")
    base = a.base.oracle if a.base else {}
    assert not (a.oracle.keys() - base.keys()) & c.oracle.keys()
    for k in ("input.docs", "input.pending_docs"):
        assert a.props[k] == c.props[k]
    assert (a.base and a.base.pending) == (c.base and c.base.pending)
    fa, fc = _files(a.corpus_dir), _files(c.corpus_dir)
    assert [os.path.relpath(f, a.corpus_dir) for f in fa] == \
        [os.path.relpath(f, c.corpus_dir) for f in fc]
    for x, y in zip(fa, fc):
        assert pq.read_schema(x) == pq.read_schema(y)


def test_base_window_does_not_depend_on_the_seed(tmp_path):
    a = _build(tmp_path, "resume_dedup", 7, "a")
    c = _build(tmp_path, "resume_dedup", 8, "c")
    assert _digest(a.base.corpus_dir) == _digest(c.base.corpus_dir)
    assert a.base.oracle == c.base.oracle


def test_process_count_does_not_change_the_files(tmp_path):
    a = _build(tmp_path, "resume_dedup", 5, "one", procs=1)
    b = _build(tmp_path, "resume_dedup", 5, "two", procs=2)
    assert _digest(a.corpus_dir) == _digest(b.corpus_dir)
    assert a.oracle == b.oracle


def test_recrawl_copies_are_expected_duplicates_of_committed_pages(tmp_path):
    inp = _build(tmp_path, "resume_dedup", 9, "r")
    recrawled = [u for u in inp.oracle if "/r/" in u]
    assert len(recrawled) == SMALL["resume_dedup"]["recrawl"]
    for url in recrawled:
        keep = inp.expected_dup[url]
        assert "/a/" in keep
        assert inp.oracle[keep][0] == inp.oracle[url][0]
    assert inp.pending == 12 and inp.base.pending == 60


def test_base_window_files_are_part_of_the_job_input(tmp_path):
    inp = _build(tmp_path, "resume_dedup", 9, "r")
    base_files = _files(inp.base.corpus_dir)
    job_files = {os.path.basename(f): f for f in _files(inp.corpus_dir)}
    assert base_files and len(job_files) > len(base_files)
    for f in base_files:
        with open(f, "rb") as x, open(job_files[os.path.basename(f)],
                                      "rb") as y:
            assert x.read() == y.read()
    assert inp.base.oracle.keys() < inp.oracle.keys()
    assert inp.base.expected_dup.items() <= inp.expected_dup.items()


def test_expected_duplicates_rule():
    def rec(url, fp):
        return {"url": url, "fingerprint": fp}
    base = [rec("b2", "x"), rec("b1", "x"), rec("b3", "y")]
    new = [rec("n1", "x"), rec("n3", "z"), rec("n2", "z"), rec("n4", "w")]
    assert inputs.expected_duplicates(base, new) == {"n1": "b1", "n3": "n2"}
