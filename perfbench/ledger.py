"""Per-layer counters read from Spark's own status stores.

``Ledger.mark()`` before and ``Ledger.read()`` after bracket one entry
run.  Everything the entry ran between the two belongs to it (the
harness is a single closed-loop client), so the jobs are taken by id
window from the DAG scheduler's job counter, their stages from the
status tracker, the SQL executions by id window from the SQL status
store, and the Janino compilations of generated code by the count of
Spark's ``CodegenMetrics`` compilation-time histogram.  An id window
also catches the jobs that a job group misses: streaming micro-batches
and ``foreachBatch`` bodies run under the stream's own group.

Stage data and plan graphs are serialised by Spark's bundled Jackson in
one Py4J call each; the counters are then summed in Python.  SQL metric
values arrive rendered (``"1,234"``, ``"17.2 MiB"``, ``"28 ms"``) and are
parsed back; sums and row counts are exact, sizes keep the 3-4
significant digits Spark prints.

``StreamListener`` records every micro-batch's progress; it is always
registered because ``trigger_ms`` is an end-to-end metric.
"""

from __future__ import annotations

import json
import re
import threading
import time
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

_UNITS = {
    "B": 1,
    "KiB": 1 << 10,
    "MiB": 1 << 20,
    "GiB": 1 << 30,
    "TiB": 1 << 40,
    "ns": 1e-6,
    "ms": 1.0,
    "s": 1e3,
    "m": 6e4,
    "h": 3.6e6,
}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")

# file scans: every FileSourceScanExec (parquet, orc, ...) carries this
_SCAN_MARK = "number of files read"
_WRITE_MARK = "number of written files"
_PY_MARK = "time to run Python workers"

STAGE_KEYS = {
    "plans.tasks": "numTasks",
    "plans.tasks_failed": "numFailedTasks",
    "plans.shuffle_write_bytes": "shuffleWriteBytes",
    "plans.shuffle_records": "shuffleWriteRecords",
    "plans.input_bytes": "inputBytes",
    "operators.gc_s": "jvmGcTime",
    "operators.spill_bytes": "memoryBytesSpilled",
    "operators.peak_mem_bytes": "peakExecutionMemory",
}


def parse_metric(text: str) -> float:
    """Value of a rendered SQL metric, in bytes, ms or plain count.

    Multi-task size/timing metrics render as
    ``"total (min, med, max (stageId: taskId))\\n17.2 MiB (...)"``; the
    total is the first value on the last line."""
    m = _VALUE.match(text.rsplit("\n", 1)[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


class StreamListener(StreamingQueryListener):
    """Collects ``QueryProgress`` of every stream, per run id."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._started: list[str] = []
        self._terminated: set[str] = set()
        self._progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self._started.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self._progress.append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self._terminated.add(str(event.runId))

    def drain(self, timeout_s: float = 10.0) -> list[dict]:
        """Wait until every started stream reported termination (the
        listener bus is asynchronous), then hand back and forget the
        progress events collected so far."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if set(self._started) <= self._terminated:
                    break
            time.sleep(0.01)
        with self._lock:
            out, self._progress = self._progress, []
            self._started = [r for r in self._started if r not in self._terminated]
            self._terminated.clear()
        return out


def trigger_stats(progress: list[dict]) -> dict:
    """Per-layer streaming counters summed over micro-batches."""
    out = {
        "streaming.triggers": len(progress),
        "streaming.input_rows": 0,
        "streaming.add_batch_ms": 0,
        "streaming.planning_ms": 0,
        "streaming.wal_commit_ms": 0,
        "streaming.commit_ms": 0,
        "streaming.offset_ms": 0,
        "streaming.state_commit_ms": 0,
        "streaming.watermark_dropped": 0,
        "streaming.state_rows": 0,
        "streaming.state_mem_bytes": 0,
    }
    last_state: dict[str, tuple[int, int]] = {}
    for p in progress:
        d = p.get("durationMs", {})
        out["streaming.input_rows"] += p.get("numInputRows", 0)
        out["streaming.add_batch_ms"] += d.get("addBatch", 0)
        out["streaming.planning_ms"] += d.get("queryPlanning", 0)
        out["streaming.wal_commit_ms"] += d.get("walCommit", 0)
        out["streaming.commit_ms"] += d.get("commitOffsets", 0)
        out["streaming.offset_ms"] += d.get("latestOffset", 0) + d.get("getBatch", 0)
        rows = mem = 0
        for s in p.get("stateOperators", []):
            out["streaming.state_commit_ms"] += s.get("commitTimeMs", 0)
            out["streaming.watermark_dropped"] += s.get("numRowsDroppedByWatermark", 0)
            rows += s.get("numRowsTotal", 0)
            mem += s.get("memoryUsedBytes", 0)
        if p.get("stateOperators"):
            prev = last_state.get(p["runId"], (0, 0))
            # state rows at the stream's last batch; memory at its peak
            last_state[p["runId"]] = (rows, max(prev[1], mem))
    out["streaming.state_rows"] = sum(r for r, _ in last_state.values())
    out["streaming.state_mem_bytes"] = sum(m for _, m in last_state.values())
    return out


def trigger_span(p: dict) -> tuple[float, float]:
    """(start, end) in epoch seconds of one micro-batch."""
    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return start, start + p["durationMs"].get("triggerExecution", 0) / 1e3


class Ledger:
    """Status-store reader for one SparkSession."""

    def __init__(self, spark) -> None:
        jvm = spark.sparkContext._jvm
        self._jsc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._dag = self._jsc.dagScheduler()
        self._tracker = spark.sparkContext.statusTracker()
        # one histogram sample per Janino compilation of generated code
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def _newest_execution(self) -> int:
        n = self._sql.executionsCount()
        return self._sql.executionsList(n - 1, 1).head().executionId() if n else -1

    def mark(self) -> tuple[int, int, int]:
        """Next job id, the newest SQL execution id and the codegen
        compilation count; pass to ``read`` after the entry ran."""
        return self._dag.numTotalJobs(), self._newest_execution(), self._codegen.getCount()

    def read(self, mark: tuple[int, int, int]) -> dict:
        """Counters of every job, stage, SQL execution and generated-code
        compilation since ``mark``."""
        out = {k: 0 for k in STAGE_KEYS}
        out.update(
            {
                "plans.codegen_compiles": self._codegen.getCount() - mark[2],
                "plans.jobs": 0,
                "plans.stages": 0,
                "operators.executor_cpu_s": 0.0,
                "plans.executor_run_s": 0.0,
            }
        )
        stages: set[int] = set()
        for job in range(mark[0], self._dag.numTotalJobs()):
            info = self._tracker.getJobInfo(job)
            if info is not None:
                out["plans.jobs"] += 1
                stages.update(info.stageIds)
        for sid in sorted(stages):
            try:
                sd = self._json(self._jsc.statusStore().lastStageAttempt(sid))
            except Exception:  # noqa: BLE001 — a stage never submitted has no record
                continue
            if sd["status"] not in ("COMPLETE", "FAILED"):
                continue
            out["plans.stages"] += 1
            for key, field in STAGE_KEYS.items():
                out[key] += sd[field]
            out["operators.executor_cpu_s"] += sd["executorCpuTime"] / 1e9
            out["plans.executor_run_s"] += sd["executorRunTime"] / 1e3
        out["operators.gc_s"] /= 1e3
        out.update(self._sql_metrics(mark[1]))
        return out

    def _sql_metrics(self, last_exec: int) -> dict:
        out = {
            "plans.sql_executions": 0,
            "plans.broadcast_bytes": 0.0,
            "sources.scan_rows": 0.0,
            "sources.scan_bytes": 0.0,
            "sources.scan_ms": 0.0,
            "sources.write_bytes": 0.0,
            "sources.write_files": 0.0,
            "sources.write_ms": 0.0,
            "operators.python_run_ms": 0.0,
            "operators.python_start_ms": 0.0,
            "operators.python_bytes_sent": 0.0,
            "operators.python_bytes_returned": 0.0,
            "operators.python_rows": 0.0,
        }
        # newest executions last; widen the window until it reaches back
        # to the mark (execution UI data carries whole plan descriptions)
        n = self._sql.executionsCount()
        fetch = 8
        while True:
            execs = self._json(self._sql.executionsList(max(0, n - fetch), fetch))
            if fetch >= n or min(e["executionId"] for e in execs) <= last_exec:
                break
            fetch *= 4
        for e in execs:
            if e["executionId"] <= last_exec:
                continue
            out["plans.sql_executions"] += 1
            values = {int(k): v for k, v in (e.get("metricValues") or {}).items()}
            graph = self._json(self._sql.planGraph(e["executionId"]).allNodes())
            writes = False
            for node in graph:
                m = {
                    x["name"]: parse_metric(values[x["accumulatorId"]])
                    for x in node["metrics"]
                    if x["accumulatorId"] in values
                }
                if node["name"] == "BroadcastExchange":
                    out["plans.broadcast_bytes"] += m.get("data size", 0)
                if _SCAN_MARK in m:
                    out["sources.scan_rows"] += m.get("number of output rows", 0)
                    out["sources.scan_bytes"] += m.get("size of files read", 0)
                    out["sources.scan_ms"] += m.get("scan time", 0)
                if _WRITE_MARK in m:
                    writes = True
                    out["sources.write_files"] += m[_WRITE_MARK]
                    out["sources.write_bytes"] += m.get("written output", 0)
                if _PY_MARK in m:
                    out["operators.python_run_ms"] += m[_PY_MARK]
                    out["operators.python_start_ms"] += m.get(
                        "time to start Python workers", 0
                    ) + m.get("time to initialize Python workers", 0)
                    out["operators.python_bytes_sent"] += m.get("data sent to Python workers", 0)
                    out["operators.python_bytes_returned"] += m.get(
                        "data returned from Python workers", 0
                    )
                    out["operators.python_rows"] += m.get("number of output rows", 0)
            if writes and e.get("completionTime"):
                # Jackson renders java.util.Date as epoch milliseconds
                out["sources.write_ms"] += e["completionTime"] - e["submissionTime"]
        return out
