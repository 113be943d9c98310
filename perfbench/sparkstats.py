"""Engine-side counters read around each run: Spark's status store, the
driver JVM's peak resident memory, and host CPU steal.

The status store is read as one JSON document per call (Spark's own
Jackson mapper with the Scala module serializes the ``v1`` API objects),
so a snapshot costs one py4j round trip instead of one per stage field.
Deltas are taken by stage and job id, never by list position, so the
store's retention cleanup cannot corrupt them.
"""

from __future__ import annotations

import json
import os
from typing import Dict, Set, Tuple

MB = 1 << 20


class SparkCounters:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gateway = sc._gateway
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._mapper = self._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(
            self._jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
        )
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self.jvm_pid = int(self._jvm.java.lang.ProcessHandle.current().pid())

    def _drain(self) -> None:
        # status-store updates arrive through the listener bus; wait for it
        # so the last stage of a run is counted in that run
        self._sc.listenerBus().waitUntilEmpty(30_000)

    def _stages(self) -> list:
        empty = self._jvm.java.util.ArrayList
        stages = self._store.stageList(
            empty(), False, False,
            self._gateway.new_array(self._jvm.double, 0), empty(),
        )
        return json.loads(self._mapper.writeValueAsString(stages))

    def _jobs(self) -> list:
        jobs = self._store.jobsList(self._jvm.java.util.ArrayList())
        return json.loads(self._mapper.writeValueAsString(jobs))

    def snapshot(self) -> Tuple[Set[Tuple[int, int]], Set[int]]:
        self._drain()
        return (
            {(s["stageId"], s["attemptId"]) for s in self._stages()},
            {j["jobId"] for j in self._jobs()},
        )

    def delta(self, before) -> Dict[str, float]:
        """Engine work done since the ``before`` snapshot."""
        self._drain()
        seen_stages, seen_jobs = before
        stages = [
            s for s in self._stages()
            if (s["stageId"], s["attemptId"]) not in seen_stages
            and s["status"] != "SKIPPED"
        ]
        jobs = [j for j in self._jobs() if j["jobId"] not in seen_jobs]

        def total(key: str) -> float:
            return sum(s.get(key) or 0 for s in stages)

        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": total("numCompleteTasks"),
            "spark.tasks_failed": total("numFailedTasks"),
            "spark.executor_s": total("executorRunTime") / 1e3,
            "spark.cpu_s": total("executorCpuTime") / 1e9,
            "spark.gc_s": total("jvmGcTime") / 1e3,
            "spark.shuffle_write_mb": total("shuffleWriteBytes") / MB,
            "spark.shuffle_read_mb": total("shuffleReadBytes") / MB,
            "spark.spill_mb": total("diskBytesSpilled") / MB,
            # the only writes in a run are the engine's checkpoints
            "written_mb": total("outputBytes") / MB,
        }

    def peak_rss_mb(self) -> float:
        """``VmHWM`` of the driver JVM — in local mode, the whole engine."""
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")


def steal_seconds() -> float:
    """Host-wide CPU steal so far (all CPUs), from ``/proc/stat``. An
    environment diagnostic: time the hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")
