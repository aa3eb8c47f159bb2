"""Per-query layer profile read from Spark's own status store.

Used only by traced runs. Each query's build and action run under their
own job group; after the action the tracer drains the listener bus and
reads, before the retained-job/stage limits can evict them:

* the jobs of both groups and every stage attempt of those jobs
  (``AppStatusStore.stageData`` with task quantiles), serialized to
  JSON inside the JVM so a stage costs one py4j round trip;
* every SQL execution started since the previous query, as the final
  (post-AQE) plan graph with its SQL metrics, from ``SQLAppStatusStore``.

Spans (query -> build/action -> job -> stage) are kept in memory and
returned with the counters; nothing is traced inside the program.
"""

from __future__ import annotations

import json
import re

_PYTHON_NODE = re.compile(r"EvalPython|InPandas|InArrow|PythonUDTF")
_NL_JOINS = ("BroadcastNestedLoopJoin", "CartesianProduct")
# one plan node in SparkPlanGraph.makeDotFile output
_DOT_NODE = re.compile(r'label="(?:<br>)?<b>([^<]+)</b><br><br>([^"]*)"')
_ROWS = re.compile(r"number of output rows: ([\d,]+)")

#: per-query counters summed into a pass (the rest are derived)
COUNTERS = (
    "build_s",
    "action_s",
    "build_jobs",
    "action_jobs",
    "stages",
    "tasks",
    "scan_tasks",
    "run_s",
    "cpu_s",
    "gc_s",
    "failed_tasks",
    "stage_retries",
    "input_bytes",
    "input_rows",
    "output_bytes",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "driver_gap_s",
    "exchanges",
    "nl_joins",
    "python_nodes",
    "python_rows",
)


def _intervals_cover(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    covered, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            covered += b - a
            end = b
    return covered


class StatusTracer:
    """Reads one query at a time from the status stores of ``spark``."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(scala.__getattr__("MODULE$"))
        self._quantiles = self.sc._gateway.new_array(jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0
        self._next_execution = 0
        # a job lists the ids of the parent stages it reuses; each stage
        # attempt is counted once, by the first query that ran it
        self._seen_stages: set[tuple[int, int]] = set()
        self._groups: dict[str, str] = {}
        self._calls = 0

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def _skip_executions(self) -> None:
        """Start the next query's plan scan after the newest SQL execution
        in the store. Execution ids are process-wide, so this skips those
        of other sessions and of queries run while nothing was traced."""
        self._jsc.listenerBus().waitUntilEmpty()
        n = self._sql.executionsCount()
        last = self._json(self._sql.executionsList(n - 1, 1)) if n else []
        if last:
            self._next_execution = max(self._next_execution, last[0]["executionId"] + 1)

    def begin(self, query: str, phase: str) -> None:
        """Tag the jobs ``phase`` of ``query`` submits from now on; each
        call opens a new job group, so reruns of a query stay apart."""
        if phase == "build":
            self._skip_executions()
        self._calls += 1
        group = f"perfbench:{self._calls}:{query}:{phase}"
        self._groups[phase] = group
        self.sc.setJobGroup(group, f"{query} {phase}")

    def _executions(self) -> list[tuple[str, str]]:
        """(node name, metrics text) of every plan node of the SQL
        executions started since the last call."""
        nodes, misses, eid = [], 0, self._next_execution
        while misses < 3:
            if self._sql.execution(eid).isEmpty():
                misses += 1
            else:
                misses = 0
                dot = self._sql.planGraph(eid).makeDotFile(self._sql.executionMetrics(eid))
                nodes.extend(_DOT_NODE.findall(dot))
                self._next_execution = eid + 1
            eid += 1
        return nodes

    def finish(self, query: str, build: tuple[float, float], action: tuple[float, float]) -> tuple[dict, dict]:
        """Counters and span tree of one query. ``build`` and ``action``
        are (start, end) wall-clock seconds."""
        self.sc.setJobGroup("perfbench:idle", "")
        self._jsc.listenerBus().waitUntilEmpty()
        c = dict.fromkeys(COUNTERS, 0)
        c["build_s"] = build[1] - build[0]
        c["action_s"] = action[1] - action[0]
        skew, peak_mem = 0.0, 0
        action_stages: list[tuple[float, float]] = []
        span = {"name": query, "kind": "query", "start": build[0], "end": action[1], "children": []}
        tracker = self.sc.statusTracker()
        for phase, (start, end) in (("build", build), ("action", action)):
            pspan = {"name": phase, "kind": phase, "start": start, "end": end, "children": []}
            span["children"].append(pspan)
            job_ids = sorted(tracker.getJobIdsForGroup(self._groups[phase]))
            c[f"{phase}_jobs"] += len(job_ids)
            for jid in job_ids:
                job = self._json(self._store.job(jid))
                jspan = {
                    "name": f"job {jid}",
                    "kind": "job",
                    "start": (job.get("submissionTime") or 0) / 1e3,
                    "end": (job.get("completionTime") or 0) / 1e3,
                    "children": [],
                }
                pspan["children"].append(jspan)
                for sid in job["stageIds"]:
                    for st in self._json(
                        self._store.stageData(sid, False, None, True, self._quantiles)
                    ):
                        attempt = (sid, st["attemptId"])
                        if st["submissionTime"] is None or attempt in self._seen_stages:
                            continue  # skipped, or run by an earlier job
                        self._seen_stages.add(attempt)
                        s0 = st["submissionTime"] / 1e3
                        s1 = (st["completionTime"] or st["submissionTime"]) / 1e3
                        jspan["children"].append(
                            {
                                "name": f"stage {sid}.{st['attemptId']}",
                                "kind": "stage",
                                "start": s0,
                                "end": s1,
                                "tasks": st["numCompleteTasks"],
                                "run_ms": st["executorRunTime"],
                                "shuffle_write_bytes": st["shuffleWriteBytes"],
                            }
                        )
                        if phase == "action":
                            action_stages.append((s0, s1))
                        c["stages"] += 1
                        c["stage_retries"] += st["attemptId"] > 0
                        c["tasks"] += st["numCompleteTasks"]
                        c["failed_tasks"] += st["numFailedTasks"]
                        c["run_s"] += st["executorRunTime"] / 1e3
                        c["cpu_s"] += st["executorCpuTime"] / 1e9
                        c["gc_s"] += st["jvmGcTime"] / 1e3
                        c["input_bytes"] += st["inputBytes"]
                        c["input_rows"] += st["inputRecords"]
                        if st["inputBytes"] > 0:
                            c["scan_tasks"] += st["numCompleteTasks"]
                        c["output_bytes"] += st["outputBytes"]
                        c["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                        c["shuffle_read_bytes"] += st["shuffleReadBytes"]
                        c["spill_bytes"] += st["diskBytesSpilled"]
                        peak_mem = max(peak_mem, st["peakExecutionMemory"])
                        dist = st.get("taskMetricsDistributions")
                        if st["numTasks"] > 1 and dist:
                            med, top = dist["executorRunTime"]
                            if med > 0:
                                skew = max(skew, top / med)
        c["driver_gap_s"] = c["action_s"] - _intervals_cover(action_stages, *action)
        for name, metrics in self._executions():
            c["exchanges"] += name == "Exchange"
            c["nl_joins"] += name in _NL_JOINS
            if _PYTHON_NODE.search(name):
                c["python_nodes"] += 1
                rows = _ROWS.search(metrics)
                if rows:
                    c["python_rows"] += int(rows.group(1).replace(",", ""))
        c["task_skew"] = skew
        c["peak_exec_mem_bytes"] = peak_mem
        return c, span

    def storage(self) -> tuple[int, int]:
        """(persisted RDDs, bytes they hold in memory and on disk)."""
        rdds = self._json(self._store.rddList(True))
        return len(rdds), sum(r["memoryUsed"] + r["diskUsed"] for r in rdds)
