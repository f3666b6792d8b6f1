"""Read Spark's in-process status store over py4j, after the timed region.

Jobs and stages come from ``SparkContext.statusStore`` serialised to JSON on
the JVM side in one call each; per-node SQL metrics come from the SQL status
store's ``planGraph``/``executionMetrics``. Neither needs the web UI, the
REST API or an event log.
"""

from __future__ import annotations

import json

JOIN_ROWS = "number of output rows"


def _mapper(jvm):
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(scala.__getattr__("MODULE$"))
    return mapper


class StatusReader:
    def __init__(self, spark):
        self._spark = spark
        self._sc = spark.sparkContext
        self._jvm = spark._jvm
        self._mapper = _mapper(self._jvm)

    def jobs_and_stages(self) -> tuple[list[dict], dict[int, dict]]:
        """(every job, stage id -> the stage's summed metrics over its
        attempts). Skipped stages ran no tasks and carry zeros."""
        store = self._sc._jsc.sc().statusStore()
        empty = self._jvm.java.util.ArrayList()
        jobs = json.loads(self._mapper.writeValueAsString(store.jobsList(empty)))
        no_quantiles = self._sc._gateway.new_array(self._jvm.double, 0)
        raw = json.loads(
            self._mapper.writeValueAsString(
                store.stageList(empty, False, False, no_quantiles, empty)
            )
        )
        stages: dict[int, dict] = {}
        for s in raw:
            acc = stages.setdefault(
                s["stageId"],
                {"run_ms": 0, "cpu_ns": 0, "shuffle_write": 0, "shuffle_read": 0,
                 "spill": 0, "tasks": 0, "failed_tasks": 0},
            )
            if s["status"] == "SKIPPED":
                continue
            acc["run_ms"] += s["executorRunTime"]
            acc["cpu_ns"] += s["executorCpuTime"]
            acc["shuffle_write"] += s["shuffleWriteBytes"]
            acc["shuffle_read"] += s["shuffleReadBytes"]
            acc["spill"] += s["diskBytesSpilled"]
            acc["tasks"] += s["numCompleteTasks"] + s["numFailedTasks"]
            acc["failed_tasks"] += s["numFailedTasks"]
        return jobs, stages

    def executions(self) -> list[tuple[int, list[int]]]:
        """(SQL execution id, its job ids) for every recorded execution."""
        store = self._spark._jsparkSession.sharedState().statusStore()
        out = []
        it = store.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            out.append((e.executionId(), [int(j) for j in _keys(e.jobs())]))
        return out

    def join_rows(self, execution_id: int) -> int:
        """Rows out of all join nodes of one SQL execution's final plan."""
        store = self._spark._jsparkSession.sharedState().statusStore()
        values = store.executionMetrics(execution_id)
        total = 0
        it = store.planGraph(execution_id).allNodes().iterator()
        while it.hasNext():
            node = it.next()
            if "Join" not in node.name() and "CartesianProduct" not in node.name():
                continue
            mit = node.metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                if m.name() == JOIN_ROWS:
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        total += int(str(v.get()).replace(",", ""))
        return total

    def storage_bytes(self) -> int:
        """Bytes of cached and checkpointed blocks held right now."""
        return sum(
            int(info.memSize()) + int(info.diskSize())
            for info in self._sc._jsc.sc().getRDDStorageInfo()
        )


def _keys(scala_map) -> list:
    out = []
    it = scala_map.keysIterator()
    while it.hasNext():
        out.append(it.next())
    return out
