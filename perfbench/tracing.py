"""Spans recorded from the benchmark process around calls into each layer.

``Tracer.install`` wraps the layers' public functions in place
(``session.get_spark``/``package_zip``, ``pipeline.run_extract_job``/
``mark_staged_duplicates``/``read_pages``/``pending_pages``/
``lineage_rows``, ``extract_fused`` as the pipeline calls it,
``IceboxTable.stage``/``commit_staged``/``append``/``current_manifest``);
``uninstall`` restores them.  Spans stay in memory (name, start, end,
parent, run id) and are written at the end.  While a span that can run
Spark jobs is open, the SparkContext job group is the span's tag, so
status-store executions join to the span (``ledger.collect``).
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.enabled = True
        self.sc = None                 # set once a session exists
        self._stack: list[Span] = []
        self._restore: list = []

    def tag(self, span: Span) -> str:
        return f"perfbench:{self.run_id}:{span.id}:{span.name}"

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self.tag(span), self.tag(span))

    @contextlib.contextmanager
    def span(self, name: str, tags_jobs: bool = True):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None,
                 self.run_id, 0.0, attrs={"tags_jobs": tags_jobs})
        self.spans.append(s)
        if tags_jobs:
            self._set_group(s)
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if tags_jobs:
                self._set_group(next((p for p in reversed(self._stack)
                                      if p.attrs["tags_jobs"]), None))

    # -- wrapping ---------------------------------------------------------
    def _wrap(self, owner, attr: str, name: str, tags_jobs: bool = True):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name, tags_jobs) as s:
                out = orig(*args, **kwargs)
            if s is not None and name == "icebox.stage":
                files = out[0]
                s.attrs["files"] = len(files)
                s.attrs["bytes"] = sum(os.path.getsize(f) for f in files)
            return out

        setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, orig))

    def install(self) -> None:
        from ocr_devnagari_spark import session
        from ocr_devnagari_spark.plans import pipeline
        from ocr_devnagari_spark.sources.icebox import IceboxTable

        self._wrap(session, "get_spark", "session.get_spark", False)
        self._wrap(session, "package_zip", "session.package_zip", False)
        self._wrap(pipeline, "run_extract_job", "pipeline.run_extract_job")
        self._wrap(pipeline, "mark_staged_duplicates",
                   "pipeline.mark_staged_duplicates")
        for fn in ("read_pages", "pending_pages", "lineage_rows"):
            self._wrap(pipeline, fn, f"pipeline.{fn}")
        self._wrap(pipeline, "extract_fused", "extract.extract_fused")
        self._wrap(IceboxTable, "stage", "icebox.stage")
        self._wrap(IceboxTable, "commit_staged", "icebox.commit_staged")
        self._wrap(IceboxTable, "append", "icebox.append")
        self._wrap(IceboxTable, "current_manifest", "icebox.current_manifest",
                   False)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # -- analysis ---------------------------------------------------------
    def subtree(self, root: Span) -> list[Span]:
        """``root`` and every span below it."""
        ids, out = {root.id}, [root]
        for s in self.spans[root.id + 1:]:
            if s.parent in ids:
                ids.add(s.id)
                out.append(s)
        return out

    def self_time(self, span: Span) -> float:
        """Duration minus the part covered by direct children (children
        run sequentially on the one driver thread)."""
        return span.dur - sum(c.dur for c in self.spans[span.id + 1:]
                              if c.parent == span.id)

    def totals(self, root: Span) -> dict:
        """name -> {"n", "s", "self_s"} over ``root``'s subtree."""
        out: dict = {}
        for s in self.subtree(root):
            t = out.setdefault(s.name, {"n": 0, "s": 0.0, "self_s": 0.0})
            t["n"] += 1
            t["s"] += s.dur
            t["self_s"] += self.self_time(s)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "tag": self.tag(s),
                                    "self_s": self.self_time(s)}) + "\n")
