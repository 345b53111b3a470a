"""Spark session set-up and teardown.

Everything a session writes (package zip, Spark local dirs, JVM and
Python temp files) goes under the run's work directory, so a run reads
and writes only inside its checkout.  ``session.package_zip`` is pointed
at a fresh directory there on every call, so every set-up pays the zip
build, as a first ``spark-submit`` on a clean host does.
"""

from __future__ import annotations

import os
import subprocess
import tempfile

import procmon

NPROC = len(os.sched_getaffinity(0))
# session.get_spark defaults the driver heap to 48g, sized for a dedicated
# machine; the benchmark's inputs need far less and may share the host.
# The initial heap is pinned to the same size and touched at start-up: a
# heap that starts small grows when GC timing says so, and a fixed heap
# touched as it is used covers more of itself when the collector sizes the
# young generation larger.  Both follow how fast the host runs at the time,
# and they made the tree's peak memory vary by up to a quarter between runs
# of the same input.
DRIVER_MEM = "2g"


def configure(work_dir: str) -> None:
    """Point temp files, Spark local dirs and the package zip at
    ``work_dir``.  Call once per process, before the first session."""
    from ocr_devnagari_spark import session

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp,
                      OCRDS_DRIVER_MEM=DRIVER_MEM)
    tempfile.tempdir = None
    pyfiles = os.path.join(work_dir, "pyfiles")
    os.makedirs(pyfiles, exist_ok=True)
    package_zip = session.package_zip

    def fresh_package_zip():
        return package_zip(tempfile.mkdtemp(dir=pyfiles))

    session.package_zip = fresh_package_zip


def open_session(app: str):
    """``session.get_spark`` on ``local[nproc]`` (looked up at call time so
    a tracing wrapper sees the call)."""
    from ocr_devnagari_spark import session

    tmp = os.environ["TMPDIR"]
    return session.get_spark(app, cores=NPROC, extra_conf={
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}"
            " -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
    })


def close_session(spark) -> None:
    """Stop the session, end its JVM and wait for every process it
    started (Python worker daemon and workers included)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    started = {} if proc is None else {
        proc.pid: procmon.stat(proc.pid)[1], **procmon.descendants(proc.pid)}
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the gateway JVM exits when its stdin reaches EOF
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    procmon.wait_gone(started, timeout=30)
