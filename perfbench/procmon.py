"""Process-tree helpers over ``/proc``: peak resident memory sampling and
shutdown.

``psutil`` is not assumed; everything reads ``/proc/<pid>/stat`` and
``/proc/<pid>/smaps_rollup`` (Linux only).
"""

from __future__ import annotations

import gc
import multiprocessing
import os
import signal
import threading
import time

# Sampling period.  Reading smaps_rollup walks the page tables of the
# process while holding its memory-map lock: ~40 ms for the driver JVM with
# its pre-touched heap (~50 ms for the whole tree).  At 2 s the sampler
# holds the JVM's lock 2% of the time rather than 8% at 0.5 s.
SAMPLE_S = 2.0


def stat(pid: int) -> tuple[int, int] | None:
    """(ppid, start time in clock ticks), or None if ``pid`` is gone or a
    zombie."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            data = f.read()
    except OSError:
        return None
    fields = data[data.rindex(b")") + 2:].split()
    if fields[0] == b"Z":
        return None
    return int(fields[1]), int(fields[19])


def descendants(root: int) -> dict:
    """pid -> start time for every live descendant of ``root``."""
    children: dict = {}
    starts: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = stat(int(name))
        if st is not None:
            children.setdefault(st[0], []).append(int(name))
            starts[int(name)] = st[1]
    out, todo = {}, list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out[pid] = starts[pid]
        todo.extend(children.get(pid, []))
    return out


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from
    ``/proc/stat``: steal is time the host ran something else while a vCPU
    of this machine was ready to run."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident bytes, each page shared with other
    processes divided among them."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class PeakRss:
    """Samples the resident memory of this process and its descendants
    every ``SAMPLE_S`` seconds on a daemon thread; ``peak`` is the largest
    sum seen.  The tree is re-listed on every sample.  The sum is of PSS,
    not RSS: a forked child (a Python worker, or the JVM between fork and
    exec when it launches a command) shares its parent's pages, and
    summed RSS would count them twice."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while True:
            pids = [root, *descendants(root)]
            self.peak = max(self.peak, sum(pss_bytes(p) for p in pids))
            if self._stop.wait(SAMPLE_S):
                return

    def reset(self) -> None:
        self.peak = 0

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def wait_gone(procs: dict, timeout: float) -> list:
    """Wait until every pid of ``procs`` (pid -> start time) has ended;
    SIGKILL what is left after ``timeout``.  Returns the pids killed."""
    def alive() -> list:
        return [p for p, start in procs.items()
                if (st := stat(p)) is not None and st[1] == start]
    deadline = time.monotonic() + timeout
    while alive() and time.monotonic() < deadline:
        time.sleep(0.1)
    killed = alive()
    for p in killed:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while alive() and time.monotonic() < deadline:
        time.sleep(0.1)
    return killed


def _map(func, tasks: list, procs: int, timeout: float) -> list:
    pool = multiprocessing.get_context("spawn").Pool(procs)
    try:
        return pool.map_async(func, tasks, chunksize=1).get(timeout)
    finally:
        pool.terminate()
        pool.join()


def spawn_map(func, tasks: list, procs: int, timeout: float) -> list:
    """``func`` over ``tasks`` in ``procs`` spawned processes.  On return
    every process started for it has ended, including the resource
    tracker ``multiprocessing`` starts for spawn pools.  Raises
    ``multiprocessing.TimeoutError`` after ``timeout`` seconds."""
    from multiprocessing import resource_tracker

    try:
        return _map(func, tasks, procs, timeout)
    finally:
        gc.collect()          # release the pool's semaphores first
        stop = getattr(resource_tracker._resource_tracker, "_stop", None)
        if stop is not None:
            stop()
