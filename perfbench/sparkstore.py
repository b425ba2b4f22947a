"""Reader for Spark's own run metrics, taken from the driver's status stores.

Two stores, both readable with ``spark.ui.enabled=false``:

* the SQL store, ``spark._jsparkSession.sharedState().statusStore()``:
  ``executionsList``, ``planGraph(id)`` (plan nodes and their metric
  accumulator ids) and ``executionMetrics(id)`` (accumulator id -> the
  formatted string the UI shows);
* the application store, ``sparkContext._jsc.sc().statusStore()``: stage
  and task data (run time, CPU time, shuffle read per task).

The SQL metric strings are parsed back into numbers.  Their formats
(Spark 4.1.2, ``SQLMetrics.stringValue``):

* sum:     ``20,000``
* size:    ``7.1 MiB`` or, aggregated over tasks,
           ``total (min, med, max (stageId: taskId))\\n8.1 MiB (2.0 MiB,
           2.0 MiB, 2.1 MiB (stage 0.0: task 0))``
* timing:  ``32 ms`` or the same ``total (min, med, max ...)`` form with
           ``ms``/``s``/``m``/``h`` units (``nsTiming`` is shown in ms).

Node and metric names used by the ledger are the exact Spark 4.1.2 ones.
"""

from __future__ import annotations

import re
import time

ARROW_EVAL = "ArrowEvalPython"
EXCHANGE = "Exchange"
SCAN = "Scan parquet"
INSERT = "Execute InsertIntoHadoopFsRelationCommand"

PY_START = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
SHUFFLE_BYTES = "shuffle bytes written"
SHUFFLE_RECORDS = "shuffle records written"
SHUFFLE_WRITE_TIME = "shuffle write time"
FETCH_WAIT = "fetch wait time"
SCAN_TIME = "scan time"
SCAN_BYTES = "size of files read"
WRITTEN_BYTES = "written output"
WRITTEN_FILES = "number of written files"
_WANTED = {PY_START, PY_INIT, PY_RUN, PY_SENT, PY_RECV, SHUFFLE_BYTES, SHUFFLE_RECORDS,
           SHUFFLE_WRITE_TIME, FETCH_WAIT, SCAN_TIME, SCAN_BYTES, WRITTEN_BYTES, WRITTEN_FILES}

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
         "PiB": 2**50, "EiB": 2**60}
_TIME_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_VALUE = re.compile(r"(-?\d[\d,]*(?:\.\d+)?)\s*([A-Za-z]+)?")
_STAGE = re.compile(r"\(stage (\d+)\.(\d+): task (\d+)\)")


def parse_metric(text: str) -> dict:
    """``{"total", "min", "med", "max", "stage"}`` from one formatted
    metric string; sizes in bytes, times in seconds, counts as numbers.
    ``min``/``med``/``max``/``stage`` are None for a single-value metric."""
    text = text.strip()
    if text.startswith("total ("):
        text = text.split("\n", 1)[1]
    values = []
    for num, unit in _VALUE.findall(_STAGE.sub("", text)):
        x = float(num.replace(",", ""))
        if unit in _SIZE:
            x *= _SIZE[unit]
        elif unit in _TIME_S:
            x *= _TIME_S[unit]
        elif unit:
            raise ValueError(f"unknown unit {unit!r} in metric {text!r}")
        values.append(x)
    stage = _STAGE.search(text)
    out = {"total": values[0], "min": None, "med": None, "max": None,
           "stage": int(stage.group(1)) if stage else None}
    if len(values) == 4:
        out.update(min=values[1], med=values[2], max=values[3])
    return out


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.length())]


class StatusStore:
    """Snapshot-and-diff access to the SQL and stage stores of one session."""

    def __init__(self, spark):
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = spark.sparkContext._jsc.sc().statusStore()
        gw = spark.sparkContext._gateway
        self._no_list = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def execution_ids(self) -> set[int]:
        it = self._sql.executionsList().iterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next().executionId())
        return ids

    def wait_complete(self, ids, timeout: float = 10.0) -> None:
        """The listener bus updates the stores asynchronously: wait until
        every execution in ``ids`` has its completion recorded."""
        deadline = time.monotonic() + timeout
        for eid in ids:
            while time.monotonic() < deadline:
                ex = self._sql.execution(eid)
                if ex.isDefined() and ex.get().completionTime().isDefined():
                    break
                time.sleep(0.05)
        time.sleep(0.2)  # let the last task-end events land

    def execution(self, eid: int) -> dict:
        """The ledger's plan-node metrics of one SQL execution:
        ``{"nodes": {node name: {metric name: [parsed, ...]}}, "duration_s",
        "jobs"}``; a list per metric because names repeat across nodes."""
        ex = self._sql.execution(eid).get()
        values = self._sql.executionMetrics(eid)
        nodes: dict[str, dict[str, list[dict]]] = {}
        for node in _seq(self._sql.planGraph(eid).allNodes()):
            name = node.name().strip()
            for m in _seq(node.metrics()):
                if m.name() not in _WANTED:
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    nodes.setdefault(name, {}).setdefault(m.name(), []).append(
                        parse_metric(v.get()))
        end = ex.completionTime()
        duration = (end.get().getTime() - ex.submissionTime()) / 1000 \
            if end.isDefined() else 0.0
        jobs = [int(j) for j in _seq(ex.jobs().keys().toSeq())]
        return {"nodes": nodes, "duration_s": duration, "jobs": jobs}

    def stage(self, stage_id: int) -> dict:
        """Run time, CPU time and per-task input of the stage's last attempt."""
        attempts = _seq(self._app.stageData(
            stage_id, False, self._no_list, False, self._no_quantiles))
        s = attempts[-1]
        tasks = []
        it = self._app.taskList(stage_id, s.attemptId(), 1 << 20).iterator()
        while it.hasNext():
            tm = it.next().taskMetrics()
            if not tm.isDefined():
                continue
            m = tm.get()
            sr = m.shuffleReadMetrics()
            tasks.append({
                "shuffle_bytes": sr.localBytesRead() + sr.remoteBytesRead(),
                "records": sr.recordsRead() + m.inputMetrics().recordsRead(),
            })
        return {"tasks": tasks, "run_s": s.executorRunTime() / 1000,
                "cpu_s": s.executorCpuTime() / 1e9}

    def job_stages(self, job_id: int) -> list[int]:
        return [int(x) for x in _seq(self._app.job(job_id).stageIds())]
