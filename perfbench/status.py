"""Read Spark's status stores as plain Python data.

One reader serves both the run-boundary counters of the untraced runs and
the per-span counters of the traced run.  It reads the core status store
(``jobsList``/``stageList``) and the SQL status store (``executionsList``,
``planGraph``, ``executionMetrics``) through Jackson, so each read is one
JVM call that returns JSON instead of one call per field.  Reading the
stores launches no Spark job; both are populated with the UI disabled.
"""

from __future__ import annotations

import json
import re

_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4,
    "PiB": 1024 ** 5, "EiB": 1024 ** 6,
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_value(text: str) -> float:
    """Parse one formatted SQL metric value into bytes, seconds or a count.

    Values read ``"5.8 KiB"``, ``"2.0 s"``, ``"354 ms"``, ``"100,000"``; a
    metric summed over tasks reads ``"total (min, med, max (...))\\n<total>
    (<min>, ...)"``, whose total is the first value on the second line.
    """
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if m is None:
        raise ValueError(f"unparseable SQL metric value: {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return num
    if unit not in _UNITS:
        raise ValueError(f"unknown unit {unit!r} in SQL metric value {text!r}")
    return num * _UNITS[unit]


class StatusReader:
    """Snapshots of one SparkSession's status stores."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        jvm = sc._jvm
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._core = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        stores hold the final metrics of every finished job."""
        self._bus.waitUntilEmpty()

    def jobs(self, after: int = -1) -> list[dict]:
        """Jobs with id > ``after``, oldest first."""
        out = [j for j in self._json(self._core.jobsList(None)) if j["jobId"] > after]
        return sorted(out, key=lambda j: j["jobId"])

    def stages(self) -> dict[int, dict]:
        """Every stage's task metrics, keyed by stage id (the latest attempt
        of a retried stage wins)."""
        out: dict[int, dict] = {}
        for s in self._json(self._core.stageList(None, False, False, self._no_quantiles, None)):
            prev = out.get(s["stageId"])
            if prev is None or s["attemptId"] > prev["attemptId"]:
                out[s["stageId"]] = s
        return out

    def max_job_id(self) -> int:
        return max((j["jobId"] for j in self.jobs()), default=-1)

    def executions(self, after: int = -1) -> list[dict]:
        """SQL executions with id > ``after``, without plan text."""
        out = []
        for e in self._json(self._sql.executionsList()):
            if e["executionId"] > after:
                out.append({
                    "id": e["executionId"],
                    "jobs": sorted(int(j) for j in e.get("jobs", {})),
                    "start_ms": e.get("submissionTime"),
                    "end_ms": e.get("completionTime"),
                })
        return sorted(out, key=lambda e: e["id"])

    def max_execution_id(self) -> int:
        return max((e["id"] for e in self.executions()), default=-1)

    def plan_nodes(self, execution_id: int) -> list[dict]:
        """The execution's physical plan nodes (codegen clusters flattened)
        with their metric values parsed: ``{"name", "desc", "metrics":
        {metric name: value}}``."""
        values = self._json(self._sql.executionMetrics(execution_id))
        graph = self._json(self._sql.planGraph(execution_id))
        nodes = []

        def walk(ns):
            for n in ns:
                if "nodes" in n:  # WholeStageCodegen cluster
                    walk(n["nodes"])
                metrics = {}
                for m in n.get("metrics", []):
                    v = values.get(str(m["accumulatorId"]))
                    if v is not None:
                        metrics[m["name"]] = metrics.get(m["name"], 0.0) + parse_value(v)
                nodes.append({"name": n["name"], "desc": n.get("desc", ""), "metrics": metrics})

        walk(graph.get("nodes", []))
        return nodes


def stage_totals(jobs: list[dict], stages: dict[int, dict]) -> dict:
    """Counters summed over the stages of ``jobs`` (each stage once)."""
    seen: set[int] = set()
    t = {"jobs": len(jobs), "stages": 0, "tasks": 0, "tasks_failed": 0,
         "executor_cpu_s": 0.0, "executor_run_s": 0.0, "gc_s": 0.0,
         "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0,
         "input_bytes": 0, "output_bytes": 0}
    for j in jobs:
        t["tasks_failed"] += j.get("numFailedTasks", 0)
        for sid in j["stageIds"]:
            s = stages.get(sid)
            if sid in seen or s is None or s["status"] == "SKIPPED":
                continue
            seen.add(sid)
            t["stages"] += 1
            t["tasks"] += s["numCompleteTasks"] + s["numFailedTasks"]
            t["executor_cpu_s"] += s["executorCpuTime"] / 1e9
            t["executor_run_s"] += s["executorRunTime"] / 1e3
            t["gc_s"] += s["jvmGcTime"] / 1e3
            t["shuffle_write_bytes"] += s["shuffleWriteBytes"]
            t["shuffle_read_bytes"] += s["shuffleReadBytes"]
            t["spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
            t["input_bytes"] += s["inputBytes"]
            t["output_bytes"] += s["outputBytes"]
    return t
