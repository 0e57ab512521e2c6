"""Spans and per-layer counts for the traced run, read from outside the
program.

Each invocation runs its build, plan and collect phases under their own
Spark job group. Afterwards the jobs of each group, their stages and the
stages' task metrics are read from Spark's own status store
(``AppStatusStore``), so the program itself is unchanged. Spans live in
memory and are written out once, when the run ends.

Hierarchy: run > pass > invocation > {build, plan, collect} > job > stage.
A span's self time is its duration minus the part its children cover.
"""

from __future__ import annotations

import itertools
import json

MB = 1024.0 * 1024.0

# Layer a span's self time is charged to, by span kind. Stages are charged
# to the executor layer through their job (see Tracer.self_times). The
# benchmark's own work between phases (CPU reads, digests, hygiene) is the
# self time of passes and invocations.
LAYER_OF = {
    "pass": "harness",
    "invocation": "harness",
    "build": "operators.build",
    "plan": "planner.plan",
    "collect": "collect.driver",
    "job": "scheduler",
}


class Tracer:
    """In-memory span recorder."""

    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)

    def add(self, kind: str, name: str, start: float, end: float,
            parent: int | None, **attrs) -> int:
        sid = next(self._ids)
        self.spans.append({"id": sid, "parent": parent, "kind": kind, "name": name,
                           "start": start, "end": end, **attrs})
        return sid

    def close(self, sid: int, end: float) -> None:
        self.spans[sid - 1]["end"] = end

    def self_times(self, root: int) -> dict[str, float]:
        """Seconds of self time per layer over the spans below ``root``."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        keep = self._descendants(root, kids)
        out: dict[str, float] = {}
        for s in self.spans:
            layer = LAYER_OF.get(s["kind"])
            if layer is None or s["id"] not in keep:
                continue
            covered = _union(
                (max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in kids.get(s["id"], [])
            )
            out[layer] = out.get(layer, 0.0) + max(0.0, s["end"] - s["start"] - covered)
            if s["kind"] == "job":
                # Stages of one job overlap; the executor layer is charged
                # the wall time during which any of them ran.
                out["executor"] = out.get("executor", 0.0) + covered
        return out

    @staticmethod
    def _descendants(root: int, kids: dict[int, list[dict]]) -> set[int]:
        seen, stack = set(), [root]
        while stack:
            sid = stack.pop()
            if sid not in seen:
                seen.add(sid)
                stack.extend(c["id"] for c in kids.get(sid, []))
        return seen

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f)


def _union(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _date_s(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusReader:
    """Jobs, stages and task metrics of finished job groups, read from the
    SparkContext's status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._jsc = jsc

    def drain(self) -> None:
        """Wait until the status listener has seen every event posted so far."""
        self._bus.waitUntilEmpty()

    def jobs(self, group: str) -> list[dict]:
        out = []
        for job_id in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
            jd = self._store.job(job_id)
            ids = jd.stageIds()
            stages = [self._stage(ids.apply(i)) for i in range(ids.length())]
            out.append({
                "job_id": job_id,
                "start": _date_s(jd.submissionTime()),
                "end": _date_s(jd.completionTime()),
                "tasks": jd.numTasks(),
                "stages": [s for s in stages if s is not None],
            })
        return out

    def _stage(self, stage_id: int) -> dict | None:
        try:
            sd = self._store.lastStageAttempt(stage_id)
        except Exception:  # py4j error: stage never registered with the store
            return None
        return {
            "stage_id": stage_id,
            "status": sd.status().toString(),
            "start": _date_s(sd.submissionTime()),
            "end": _date_s(sd.completionTime()),
            "tasks": sd.numCompleteTasks(),
            "run_s": sd.executorRunTime() / 1e3,
            "cpu_s": sd.executorCpuTime() / 1e9,
            "deserialize_s": sd.executorDeserializeTime() / 1e3,
            "gc_s": sd.jvmGcTime() / 1e3,
            "peak_mem_mb": sd.peakExecutionMemory() / MB,
            "result_mb": sd.resultSize() / MB,
            "shuffle_read_mb": sd.shuffleReadBytes() / MB,
            "shuffle_write_mb": sd.shuffleWriteBytes() / MB,
            "fetch_wait_s": sd.shuffleFetchWaitTime() / 1e3,
            "spill_mb": (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB,
        }

    def storage_mb(self) -> float:
        """Block-manager storage memory in use, summed over executors."""
        it = self._jsc.getExecutorMemoryStatus().valuesIterator()
        used = 0
        while it.hasNext():
            pair = it.next()
            used += pair._1() - pair._2()
        return used / MB


def python_node_bytes(df) -> tuple[float, float]:
    """(MB sent to, MB received from) Python workers by the Python nodes of
    ``df``'s executed plan, read from their SQL metrics after collect."""
    sent = received = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        metrics = node.metrics()
        if metrics.contains("pythonDataSent"):
            sent += metrics.apply("pythonDataSent").value()
            received += metrics.apply("pythonDataReceived").value()
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.length()))
    return sent / MB, received / MB
