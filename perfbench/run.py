"""End-to-end benchmark of the extraction job, ``plans.pipeline.run_extract_job``.

    python3 perfbench/run.py --workload cold_mixed --seed 1 --seconds 12 --trace 0

Run from the repository root.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics of BENCHMARK.json, with ``--trace 1`` the per-layer
ones.  The line before it is a report with every end-to-end metric by
name and unit (``failed_ops_frac`` and ``mismatch_urls`` included), sample
counts, the input's shape and the run's metadata.  See README.md.

A timing run (one process, ``local[nproc]``, no extra client threads):

1. generate the seed's input and its single-thread oracle (untimed);
2. ``resume_dedup`` only: the base window's committed snapshot, made by
   the program in a session of its own the first time a checkout needs
   it and reused after that (untimed but for its set-up);
3. set up the session the timed jobs run in: ``setup_s`` is the median
   of the run's ``get_spark`` walls;
4. cold job: the first job of the session on a fresh warehouse;
5. reps: a warm job on a fresh warehouse, then one no-op resume of it
   (the same job again; the anti-join finds 0 pending); ``WARMUP_REPS``
   untimed ones, then about ``--seconds`` worth of timed ones.

Every job is checked against the oracle; a mismatch fails that job.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)

WORKLOADS = ("cold_mixed", "resume_dedup")
DEDUP = {"cold_mixed": "none", "resume_dedup": "exact"}
# seconds a warm job plus its no-op resume (and their checks) take at HEAD
# on a 4-vCPU host
NOMINAL_REP_S = {"cold_mixed": 3.6, "resume_dedup": 4.3}
# untimed warm jobs (each with its no-op) between the cold job and the
# timed ones: both kinds keep getting faster over the first few, as the
# JVM compiles their code paths
WARMUP_REPS = 2

END_TO_END = {
    "setup_s": "s",
    "cold_docs_per_s": "docs/s",
    "warm_docs_per_s": "docs/s",
    "noop_resume_s": "s",
    "peak_rss_mb": "MB",
}
CORE_FUNCS = ("extract_document", "materialize_events", "segment_blocks",
              "precise_extract_html", "parse_tree", "extract_pdf",
              "estimate_confidence", "detect_critical")
SPAN_NAMES = ("session.get_spark", "pipeline.run_extract_job",
              "pipeline.mark_staged_duplicates", "icebox.stage",
              "icebox.commit_staged", "icebox.append",
              "icebox.current_manifest")
# spans whose inclusive time is reported beside the self times
SPAN_TOTALS = ("icebox.stage", "icebox.commit_staged", "icebox.append",
               "pipeline.mark_staged_duplicates", "pipeline.read_pages",
               "pipeline.pending_pages", "pipeline.lineage_rows",
               "extract.extract_fused")
# the traced no-op resume: its spans (it stages 0 rows, so it never
# commits or appends) and the status-store figures of its queries
NOOP_SPANS = ("pipeline.run_extract_job", "pipeline.read_pages",
              "pipeline.pending_pages", "icebox.stage")
NOOP_LEDGER = ("scan.time_s", "scan.bytes_read", "exchange.shuffle_bytes",
               "exchange.shuffle_records", "extract.tasks")
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.package_zip_s": "s",
    "extract.python_start_s": "s",
    "extract.python_init_s": "s",
    "extract.python_run_s": "s",
    "extract.bytes_to_python": "bytes",
    "extract.bytes_from_python": "bytes",
    "extract.output_rows": "count",
    "extract.tasks": "count",
    "extract.python_run_max_over_median": "ratio",
    "extract.parallel_efficiency": "ratio",
    "scan.time_s": "s",
    "scan.bytes_read": "bytes",
    "exchange.shuffle_bytes": "bytes",
    "exchange.shuffle_records": "count",
    **{f"{n}_s": "s" for n in SPAN_TOTALS},
    "icebox.files_staged": "count",
    "icebox.bytes_staged": "bytes",
    "icebox.manifest_reads": "count",
    "pipeline.run_extract_job_s": "s",
    "pipeline.dedup_marked_rows": "count",
    "pipeline.dedup_files_rewritten_frac": "ratio",
    "pipeline.escalated_frac": "ratio",
    "pipeline.failed_rows_frac": "ratio",
    **{f"core.{f}_cpu_s": "s" for f in CORE_FUNCS},
    "core.precise_useful_frac": "ratio",
    "core.single_thread_docs_per_s": "docs/s",
    "core.hostile_docs_raised": "count",
    "core.hostile_doc_max_s": "s",
    **{f"{n}_self_s": "s" for n in SPAN_NAMES},
    **{f"noop.{n}_s": "s" for n in NOOP_SPANS},
    "noop.pipeline.run_extract_job_self_s": "s",
    "noop.icebox.manifest_reads": "count",
    "noop.scan.time_s": "s",
    "noop.scan.bytes_read": "bytes",
    "noop.exchange.shuffle_bytes": "bytes",
    "noop.exchange.shuffle_records": "count",
    "noop.extract.tasks": "count",
    "trace.stage_commit_append_share": "ratio",
    "trace.span_coverage": "ratio",
    "trace.overhead_s": "s",
    "failed_ops_frac": "ratio",
    "mismatch_urls": "count",
    "input.docs": "count",
    "input.pending_docs": "count",
    "input.html_bytes": "bytes",
    "input.pdf_frac": "ratio",
    "input.truth_escalation_frac": "ratio",
    "input.dup_frac": "ratio",
    "input.top_host_frac": "ratio",
    "meta.nproc": "count",
}


def summarize(values: list) -> dict:
    """Median, extremes and the highest of p90/p99 that has at least ten
    samples beyond it (none below 20 samples)."""
    vs = sorted(values)
    out = {"n": len(vs), "median": statistics.median(vs) if vs else None,
           "min": vs[0] if vs else None, "max": vs[-1] if vs else None}
    for q in (99, 90):
        if len(vs) * (100 - q) / 100 >= 10:
            out[f"p{q}"] = statistics.quantiles(vs, n=100)[q - 1]
            break
    return out


def source_sha() -> str:
    """Content hash of the program's sources (the checkout the benchmark
    runs in need not be a git repository)."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "ocr_devnagari_spark")
    for d, _dirs, files in sorted(os.walk(pkg)):
        for fn in sorted(files):
            if fn.endswith(".py"):
                with open(os.path.join(d, fn), "rb") as f:
                    h.update(fn.encode() + f.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


class Bench:
    def __init__(self, args, work: str):
        import spark_env

        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.nproc = spark_env.NPROC
        self.attempted = self.failed = self.mismatch = 0
        self.n_tables = 0
        # share of the host's CPU time stolen from this machine during
        # each job, in run order: the report shows how busy the host was
        self.host_steal: list = []
        self.spark = None
        self.inputs = None
        self.base_files: list = []        # resume_dedup: committed base
        self.base_rows = 0

    # -- one job ------------------------------------------------------------
    def _table_root(self) -> str:
        """A fresh warehouse; for resume_dedup it holds the base window's
        committed snapshot (the files ``_base_snapshot`` found, which are
        immutable and shared)."""
        from ocr_devnagari_spark.config import ExtractConfig
        from ocr_devnagari_spark.sources.icebox import IceboxTable

        self.n_tables += 1
        root = os.path.join(self.work, f"warehouse-{self.n_tables}")
        if self.base_files:
            IceboxTable(ExtractConfig(root_dir=root).extracted_table
                        ).commit_staged(self.base_files, self.base_rows)
        return root

    def job(self, cfg, noop: bool, inp=None
            ) -> tuple[float | None, dict | None]:
        """Run and check one ``run_extract_job`` over ``inp`` (default: the
        workload's input); (wall s, summary) or (None, None) if it raised
        or its output is wrong."""
        import check
        import procmon
        from ocr_devnagari_spark.plans import pipeline
        from ocr_devnagari_spark.sources.icebox import IceboxTable

        inp = inp or self.inputs
        table = IceboxTable(cfg.extracted_table)
        self.attempted += 1
        before = table.current_manifest() if noop else None
        ticks0 = procmon.cpu_ticks()
        t0 = time.perf_counter()
        try:
            summary = pipeline.run_extract_job(
                self.spark, inp.corpus_dir, cfg,
                dedup=DEDUP[self.workload])
        except Exception:                # noqa: BLE001 - count, go on
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None, None
        wall = time.perf_counter() - t0
        ticks1 = procmon.cpu_ticks()
        self.host_steal.append((ticks1[0] - ticks0[0])
                               / max(1, ticks1[1] - ticks0[1]))
        if noop:
            # an unchanged manifest lists the same immutable, checked files
            bad = summary["rows"]
            if table.current_manifest() != before:
                bad += 1 + check.mismatched_urls(
                    cfg.extracted_table, inp.oracle, inp.expected_dup)
        else:
            bad = abs(summary["rows"] - inp.pending) + \
                check.mismatched_urls(cfg.extracted_table, inp.oracle,
                                      inp.expected_dup)
        if bad:
            print(f"perfbench: {bad} mismatched urls (noop={noop})",
                  file=sys.stderr)
            self.failed += 1
            self.mismatch += bad
            return None, None
        return wall, summary

    def rep(self, noops: int = 0) -> tuple:
        """Job on a fresh warehouse, then ``noops`` no-op resumes of it;
        the warehouse is deleted afterwards.
        (job wall, job summary, no-op walls)."""
        from ocr_devnagari_spark.config import ExtractConfig

        cfg = ExtractConfig(root_dir=self._table_root())
        wall, summary = self.job(cfg, noop=False)
        noop_walls = [self.job(cfg, noop=True)[0]
                      for _ in range(noops if wall is not None else 0)]
        shutil.rmtree(cfg.root_dir)
        return wall, summary, noop_walls

    # -- runs ---------------------------------------------------------------
    def _inputs(self, procs: int) -> None:
        import inputs

        self.inputs = inputs.build(self.workload, self.seed,
                                   os.path.join(self.work, "input"),
                                   n_parts=2 * self.nproc, procs=procs)

    def _open(self, app: str) -> float:
        """Open ``self.spark``; return the ``get_spark`` wall."""
        import spark_env

        t0 = time.perf_counter()
        self.spark = spark_env.open_session(app)
        return time.perf_counter() - t0

    def _base_snapshot(self) -> float | None:
        """resume_dedup: find the base window's committed snapshot.

        The program commits it (one checked ``run_extract_job`` over the
        base window, as an earlier run of the same job would), in a session
        of its own that is closed before the timed session opens.  The base
        window is the same for every seed, so the snapshot is kept under
        ``.bench_work/`` and reused by later runs in the same checkout, as
        long as the package sources, the input generator and the core count
        are unchanged.  Every timed job's check covers its rows again.
        Returns the ``get_spark`` wall of the session that committed it, or
        None if no session was needed."""
        import glob

        import spark_env
        from ocr_devnagari_spark.config import ExtractConfig
        from ocr_devnagari_spark.sources.icebox import IceboxTable

        if self.inputs.base is None:
            return None
        h = hashlib.sha256(f"{source_sha()} {self.nproc}".encode())
        with open(os.path.join(HERE, "inputs.py"), "rb") as f:
            h.update(f.read())
        cache = os.path.join(ROOT, ".bench_work",
                             f"base-{h.hexdigest()[:16]}")
        done = os.path.join(cache, "snapshot.json")
        try:
            with open(done) as f:
                snap = json.load(f)
            if all(os.path.isfile(p) for p in snap["files"]):
                self.base_files, self.base_rows = snap["files"], snap["rows"]
                return None
        except (OSError, ValueError, KeyError):
            pass
        for old in glob.glob(os.path.join(ROOT, ".bench_work", "base-*")):
            shutil.rmtree(old)
        setup = self._open("perfbench-base")
        try:
            cfg = ExtractConfig(root_dir=os.path.join(cache, "warehouse"))
            wall, _ = self.job(cfg, noop=False, inp=self.inputs.base)
        finally:
            spark_env.close_session(self.spark)
        if wall is None:
            raise RuntimeError("the job committing the base window failed")
        m = IceboxTable(cfg.extracted_table).current_manifest()
        self.base_files, self.base_rows = m["files"], m["row_count"]
        with open(done + ".tmp", "w") as f:
            json.dump({"files": self.base_files, "rows": self.base_rows}, f)
        os.replace(done + ".tmp", done)
        return setup

    def warm_reps(self) -> int:
        """Warm jobs per run, each with its no-op resume: as many as take
        about ``--seconds`` at HEAD on a 4-vCPU host.  The count, not the
        clock, ends the run, so both sides of a comparison do the same
        work."""
        return max(2, round(self.seconds / NOMINAL_REP_S[self.workload]))

    def timing_run(self) -> tuple[dict, dict]:
        import procmon
        import spark_env

        phases = {}
        t_phase = time.perf_counter()

        def phase(name):
            nonlocal t_phase
            now = time.perf_counter()
            phases[name] = now - t_phase
            t_phase = now

        with procmon.PeakRss() as rss:
            self._inputs(procs=self.nproc)
            phase("inputs_s")
            setups = [s for s in [self._base_snapshot()] if s is not None]
            phase("base_s")
            rss.reset()
            setups.append(self._open("perfbench"))
            try:
                phase("session_s")
                cold = self.rep()[0]
                phase("cold_rep_s")
                for _ in range(WARMUP_REPS):     # untimed, but checked
                    self.rep(noops=1)
                phase("warm_up_s")
                warm, noops = [], []
                t_stop = time.perf_counter() + 4 * self.seconds
                for _ in range(self.warm_reps()):
                    # a no-op after every warm job: both kinds of sample
                    # spread over the whole window, and every no-op is the
                    # first after a commit
                    w, _, nw = self.rep(noops=1)
                    warm.append(w)
                    noops += nw
                    if time.perf_counter() > t_stop:
                        break
                phase("warm_reps_s")
            finally:
                spark_env.close_session(self.spark)
            phase("close_s")
            peak = rss.peak
        pending = self.inputs.pending
        samples = {
            "setup_s": setups,
            "cold_docs_per_s": [pending / cold] if cold else [],
            "warm_docs_per_s": [pending / w for w in warm if w],
            "noop_resume_s": [n for n in noops if n],
            "peak_rss_mb": [peak / 2**20],
        }
        stats = {k: {"unit": END_TO_END[k], **summarize(v), "samples": v}
                 for k, v in samples.items()}
        metrics = {k: s["median"] or 0.0 for k, s in stats.items()}
        extra = {"failed_ops_frac": self.failed / self.attempted,
                 "mismatch_urls": self.mismatch}
        return metrics, {"end_to_end": stats, **extra, "phases": phases,
                         "host_steal_per_job": self.host_steal}

    def trace_run(self) -> tuple[dict, dict]:
        import ledger
        import spark_env
        import tracing

        tracer = tracing.Tracer(f"{self.workload}-{self.seed}")
        m: dict = {}
        self._inputs(procs=1)
        single = len(self.inputs.oracle) / self.inputs.oracle_extract_s
        m["core.single_thread_docs_per_s"] = single
        m["core.precise_useful_frac"] = self.inputs.precise_useful_frac
        m.update(self._hostile())
        tracer.install()
        try:
            tracer.enabled = False          # the base commit is not traced
            self._base_snapshot()
            tracer.enabled = True
            self.spark = spark_env.open_session("perfbench-trace")
            tracer.sc = self.spark.sparkContext
            try:
                m.update(self._traced_reps(tracer, ledger, single))
            finally:
                spark_env.close_session(self.spark)
        finally:
            tracer.uninstall()
            tracer.write(os.path.join(
                ROOT, ".bench_work", "traces",
                f"{self.workload}-{self.seed}.jsonl"))
        for name in ("session.get_spark", "session.package_zip"):
            sp = [s for s in tracer.spans if s.name == name]
            m[f"{name}_s"] = sp[0].dur if sp else 0.0
        m["session.get_spark_self_s"] = next(
            (tracer.self_time(s) for s in tracer.spans
             if s.name == "session.get_spark"), 0.0)
        m["failed_ops_frac"] = self.failed / self.attempted
        m["mismatch_urls"] = self.mismatch
        m.update(self.inputs.props)
        m["meta.nproc"] = self.nproc
        metrics = {k: m.get(k, 0.0) for k in PER_LAYER}
        return metrics, {}

    @staticmethod
    def _hostile() -> dict:
        """Hostile documents, one at a time in a child process, so a page
        that never finishes costs the run at most the timeout."""
        import multiprocessing

        import hostile
        import procmon

        timeout = 60.0
        try:
            res = procmon.spawn_map(hostile.probe, list(hostile.CASES), 1,
                                    timeout)
        except multiprocessing.TimeoutError:
            res = [{"case": "timeout", "s": timeout, "raised": "timeout"}]
        for r in res:
            print(f"perfbench: hostile {r['case']}: {r['s']:.3f} s"
                  f"{' raised ' + r['raised'] if r['raised'] else ''}",
                  file=sys.stderr)
        return {"core.hostile_docs_raised":
                    sum(r["raised"] is not None for r in res),
                "core.hostile_doc_max_s": max(r["s"] for r in res)}

    def _traced_reps(self, tracer, ledger, single: float) -> dict:
        """Traced cold job and its no-op resume (spans + ledger), warm jobs
        untraced, traced and untraced (tracing overhead), then a warm job
        under the UDF profiler."""
        m: dict = {}
        first = len(tracer.spans)
        cold, summary, noops = self.rep(noops=1)
        if cold is None:
            return m
        job, *noop = [s for s in tracer.spans[first:]
                      if s.name == "pipeline.run_extract_job"]
        m.update(ledger.collect(self.spark, self._tags(tracer, job)))
        m.update(self._span_metrics(tracer, job, summary))
        if noops[0] is not None:
            m.update(self._noop_metrics(tracer, ledger, noop[0]))

        # untraced, traced, untraced: the pair's mean cancels the warm-up
        # trend of successive jobs in one session
        walls = []
        for traced in (False, True, False):
            tracer.enabled = traced
            walls.append(self.rep()[0])
        tracer.enabled = True
        if all(walls):
            untraced = (walls[0] + walls[2]) / 2
            m["trace.overhead_s"] = walls[1] - untraced
            m["extract.parallel_efficiency"] = (
                self.inputs.pending / untraced / (self.nproc * single))

        tracer.enabled = False
        m.update(self._profiled_rep())
        tracer.enabled = True
        return m

    @staticmethod
    def _tags(tracer, job) -> set:
        return {tracer.tag(s) for s in tracer.subtree(job)
                if s.attrs["tags_jobs"]}

    def _noop_metrics(self, tracer, ledger, job) -> dict:
        t = tracer.totals(job)
        m = {f"noop.{n}_s": t.get(n, {}).get("s", 0.0) for n in NOOP_SPANS}
        m["noop.pipeline.run_extract_job_self_s"] = tracer.self_time(job)
        m["noop.icebox.manifest_reads"] = t.get(
            "icebox.current_manifest", {}).get("n", 0)
        led = ledger.collect(self.spark, self._tags(tracer, job))
        m.update({f"noop.{k}": led[k] for k in NOOP_LEDGER})
        return m

    def _span_metrics(self, tracer, job, summary: dict) -> dict:
        t = tracer.totals(job)

        def tot(name, key="s"):
            return t.get(name, {}).get(key, 0.0)

        m = {f"{n}_self_s": tot(n, "self_s") for n in SPAN_NAMES
             if n != "session.get_spark"}
        for n in SPAN_TOTALS:
            m[f"{n}_s"] = tot(n)
        m["pipeline.run_extract_job_s"] = job.dur
        m["icebox.manifest_reads"] = tot("icebox.current_manifest", "n")
        stages = [s for s in tracer.subtree(job) if s.name == "icebox.stage"]
        m["icebox.files_staged"] = sum(s.attrs["files"] for s in stages)
        m["icebox.bytes_staged"] = sum(s.attrs["bytes"] for s in stages)
        m["trace.stage_commit_append_share"] = (
            tot("icebox.stage", "self_s") + tot("icebox.append", "self_s")
            + tot("icebox.commit_staged", "self_s")) / job.dur
        m["trace.span_coverage"] = 1 - tracer.self_time(job) / job.dur
        first_stage = next(s for s in stages if s.parent == job.id)
        obs = summary["metrics"]
        m["pipeline.dedup_marked_rows"] = summary.get("dedup_marked", 0)
        m["pipeline.dedup_files_rewritten_frac"] = (
            summary.get("dedup_files_rewritten", 0)
            / max(1, first_stage.attrs["files"]))
        m["pipeline.escalated_frac"] = obs["escalated"] / obs["rows"]
        m["pipeline.failed_rows_frac"] = obs["failed"] / obs["rows"]
        return m

    def _profiled_rep(self) -> dict:
        """One warm job under ``spark.sql.pyspark.udf.profiler=perf``;
        cumulative seconds per ``extract_core`` function, summed over
        tasks."""
        import pstats

        prof_dir = os.path.join(self.work, "profile")
        self.spark.profile.clear(type="perf")
        self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        try:
            self.rep()
        finally:
            self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
        self.spark.profile.dump(prof_dir, type="perf")
        cum = {f: 0.0 for f in CORE_FUNCS}
        for fn in sorted(os.listdir(prof_dir)):
            st = pstats.Stats(os.path.join(prof_dir, fn))
            for (path, _line, func), row in st.stats.items():
                if path == "extract_core.py" and func in cum:
                    cum[func] += row[3]
        return {f"core.{f}_cpu_s": v for f, v in cum.items()}

    def run(self) -> tuple[dict, dict]:
        import pyspark

        t0 = time.perf_counter()
        metrics, report = self.trace_run() if self.trace else \
            self.timing_run()
        report.update({
            "workload": self.workload, "seed": self.seed,
            "trace": int(self.trace), "seconds": self.seconds,
            "wall_s": time.perf_counter() - t0,
            "meta": {"nproc": self.nproc, "spark": pyspark.__version__,
                     "git_commit": git_commit(), "source_sha": source_sha()},
            "input": self.inputs.props,
        })
        result = {"correct": self.failed == 0, "attempted": self.attempted,
                  "failed": self.failed,
                  "metrics": {k: {"value": v,
                                  "unit": (PER_LAYER if self.trace
                                           else END_TO_END)[k]}
                              for k, v in metrics.items()}}
        return result, report


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "ocr_devnagari_spark",
                                       "__init__.py")):
        print(f"perfbench: no ocr_devnagari_spark package in {ROOT}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        import spark_env

        spark_env.configure(work)
        result, report = Bench(args, work).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
