"""Per-layer metrics from Spark's own status stores, per tagged execution.

SQL executions carry the description set with ``setJobGroup`` by the
tracer, so each execution joins to the span that ran it.  Python-worker
and scan metrics come from the SQL status store (plan-graph node metrics,
present with ``spark.ui.enabled=false``); shuffle bytes and records come
raw from the stage status store.  Stage input bytes are not used: a task
feeding a Python worker reads its input on another thread, whose reads
the stage does not count.  The executed plan of the DataFrame
passed to ``IceboxTable.stage`` carries no metrics (``df.write`` runs its
own query), so it is not used.
"""

from __future__ import annotations

import re
import time

_UNIT = {None: 1.0, "": 1.0, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
         "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30,
         "TiB": 2.0**40, "PiB": 2.0**50}
_VALUE_RE = re.compile(
    r"(-?\d[\d,]*(?:\.\d+)?)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB|PiB)?(?![\w.])")
_STAGE_RE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")

MAP_IN_PANDAS = {
    "time to start Python workers": "extract.python_start_s",
    "time to initialize Python workers": "extract.python_init_s",
    "time to run Python workers": "extract.python_run_s",
    "data sent to Python workers": "extract.bytes_to_python",
    "data returned from Python workers": "extract.bytes_from_python",
    "number of output rows": "extract.output_rows",
}


def parse_metric(text: str) -> dict:
    """Parse a status-store metric string in SI base units (seconds,
    bytes, rows).

    ``'6,000'`` → total only; ``'total (min, med, max (stageId: taskId))
    \\n6.6 s (2.6 s, 4.0 s, 4.0 s (stage 42.0: task 45))'`` → total, min,
    med, max and the stage id.
    """
    last = text.strip().splitlines()[-1]
    stage = _STAGE_RE.search(last)
    nums = [float(v.replace(",", "")) * _UNIT[u]
            for v, u in _VALUE_RE.findall(_STAGE_RE.sub("", last))]
    out = {"total": nums[0]}
    if len(nums) >= 4:
        out.update(min=nums[1], med=nums[2], max=nums[3])
    if stage:
        out["stage"] = int(stage.group(1))
    return out


def _ids(scala_set) -> list:
    s = scala_set.mkString(",")
    return [int(x) for x in s.split(",")] if s else []


def _drain(spark) -> None:
    """Let the listener bus deliver every event of finished jobs (waits at
    most 30 s)."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    except Exception:          # noqa: BLE001 - internal API; fall back
        time.sleep(1.0)


def executions(spark, tags: set) -> list:
    """SQL executions whose description is one of ``tags``."""
    _drain(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    it = store.executionsList().iterator()
    while it.hasNext():
        e = it.next()
        if e.description() in tags:
            out.append(e)
    return out


def collect(spark, tags: set) -> dict:
    """Named per-layer metrics summed over the executions tagged ``tags``."""
    sql = spark._jsparkSession.sharedState().statusStore()
    stages = spark.sparkContext._jsc.sc().statusStore()
    m = {name: 0.0 for name in MAP_IN_PANDAS.values()}
    m.update({"extract.tasks": 0, "extract.python_run_max_over_median": 0.0,
              "scan.time_s": 0.0, "scan.bytes_read": 0,
              "exchange.shuffle_bytes": 0, "exchange.shuffle_records": 0,
              "ledger.executions": 0})
    for e in executions(spark, tags):
        m["ledger.executions"] += 1
        eid = e.executionId()
        values = sql.executionMetrics(eid)
        nodes = sql.planGraph(eid).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            name = node.name()
            if name != "MapInPandas" and not name.startswith("Scan"):
                continue
            metrics = node.metrics().iterator()
            while metrics.hasNext():
                pm = metrics.next()
                v = values.get(pm.accumulatorId())
                if not v.isDefined():
                    continue
                parsed = parse_metric(v.get())
                if name.startswith("Scan"):
                    if pm.name() == "scan time":
                        m["scan.time_s"] += parsed["total"]
                    elif pm.name() == "size of files read":
                        m["scan.bytes_read"] += parsed["total"]
                    continue
                key = MAP_IN_PANDAS.get(pm.name())
                if key is None:
                    continue
                m[key] += parsed["total"]
                if key == "extract.python_run_s" and parsed["total"] > 0:
                    if "med" in parsed and parsed["med"] > 0:
                        m["extract.python_run_max_over_median"] = max(
                            m["extract.python_run_max_over_median"],
                            parsed["max"] / parsed["med"])
                    sid = parsed.get("stage")
                    m["extract.tasks"] += (
                        stages.lastStageAttempt(sid).numTasks()
                        if sid is not None else 1)
        for sid in _ids(e.stages()):
            try:
                st = stages.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage skipped, never ran
                continue
            m["exchange.shuffle_bytes"] += st.shuffleWriteBytes()
            m["exchange.shuffle_records"] += st.shuffleWriteRecords()
    if m["extract.tasks"] and not m["extract.python_run_max_over_median"]:
        m["extract.python_run_max_over_median"] = 1.0   # one task
    return m
