"""Per-layer tracing from outside the engine.

The tracer wraps the engine's public entry points and reads Spark's own
status store; it changes no engine code. While installed it:

- counts py4j commands sent to the JVM, without the memory-release
  commands py4j sends when Python proxies are garbage collected (their
  number depends on when Python's GC runs, not on the work done);
- times and counts every `load_tables` call, in whichever engine module
  imported it;
- after each op, outside the timed window, reads the op's jobs and
  stages from ``sc._jsc.sc().statusStore()`` (filled with the UI off).

Jobs are attributed by job group, which the runner sets per op. Streaming
micro-batch jobs run under the stream's own group, so jobs of another
group that start inside the op's window are counted as batch jobs.
"""

from __future__ import annotations

import json
import sys
import time
from dataclasses import dataclass

from py4j.java_gateway import GatewayClient
from py4j.protocol import MEMORY_COMMAND_NAME, Py4JJavaError

MB = 1024 * 1024


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of (start, end) intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


@dataclass
class Mark:
    """Counter state when an op started."""

    group: str
    next_job: int
    py4j: int
    io_s: float
    io_calls: int


class Tracer:
    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._gateway = sc._gateway
        self._jvm = jvm
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala, "MODULE$"))
        mf = jvm.java.lang.management.ManagementFactory
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._heap = [p for p in mf.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"]
        self._seen_stages: set[int] = set()
        self.py4j_calls = 0
        self.io_s = 0.0
        self.io_calls = 0
        self._undo: list[tuple[object, str, object]] = []

    # -- wrappers -------------------------------------------------------
    def install(self) -> None:
        import base_etl_spark.io as bio

        orig_send = GatewayClient.send_command
        tracer = self

        def send_command(client, command, *args, **kwargs):
            if not command.startswith(MEMORY_COMMAND_NAME):
                tracer.py4j_calls += 1
            return orig_send(client, command, *args, **kwargs)

        orig_load = bio.load_tables

        def load_tables(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig_load(*args, **kwargs)
            finally:
                tracer.io_s += time.perf_counter() - t0
                tracer.io_calls += 1

        self._patch(GatewayClient, "send_command", send_command)
        for mod in [m for name, m in sys.modules.items() if name.startswith("base_etl_spark")]:
            if getattr(mod, "load_tables", None) is orig_load:
                self._patch(mod, "load_tables", load_tables)

    def _patch(self, owner, name: str, new) -> None:
        self._undo.append((owner, name, getattr(owner, name)))
        setattr(owner, name, new)

    def uninstall(self) -> None:
        while self._undo:
            owner, name, old = self._undo.pop()
            setattr(owner, name, old)

    # -- per op ---------------------------------------------------------
    def begin(self, group: str) -> Mark:
        from base_etl_spark import iterstats

        iterstats.ITER_ROUNDS.clear()
        return Mark(group, self._jsc.dagScheduler().nextJobId(), self.py4j_calls,
                    self.io_s, self.io_calls)

    def end(self, mark: Mark, py4j_build: int, w_exec: float, w1: float) -> dict:
        """Layer record of one op. ``w_exec`` and ``w1`` are wall-clock
        seconds at execute start and op end; ``py4j_build`` is the
        tracer's py4j count when the build returned."""
        from base_etl_spark import iterstats

        rounds = sum(iterstats.ITER_ROUNDS.values())
        self._jsc.listenerBus().waitUntilEmpty()
        end_job = self._jsc.dagScheduler().nextJobId()
        rec = {
            "io_s": self.io_s - mark.io_s,
            "io_calls": self.io_calls - mark.io_calls,
            "py4j_build_calls": py4j_build - mark.py4j,
            "rounds": rounds,
            "jobs": 0, "batch_jobs": 0, "build_jobs": 0, "stages": 0, "tasks": 0,
            "task_run_s": 0.0, "task_cpu_s": 0.0, "task_skew": 1.0,
            "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "spill_mb": 0.0, "output_mb": 0.0,
        }
        build_iv, exec_iv, all_iv, exec_starts = [], [], [], []
        for jid in range(mark.next_job, end_job):
            job = self._read(self._store.job, jid)
            if job is None or job.get("submissionTime") is None:
                continue
            a = job["submissionTime"] / 1000
            b = (job.get("completionTime") or w1 * 1000) / 1000
            rec["jobs"] += 1
            if job.get("jobGroup") != mark.group:
                rec["batch_jobs"] += 1
            all_iv.append((a, b))
            if a < w_exec:
                rec["build_jobs"] += 1
                build_iv.append((a, b))
            else:
                exec_starts.append(a)
                exec_iv.append((a, min(b, w1)))
            for sid in job.get("stageIds", []):
                self._add_stage(sid, rec)
        exec_s = w1 - w_exec
        rec["build_job_s"] = union_s(build_iv)
        rec["job_wall_s"] = union_s(all_iv)
        rec["plan_s"] = min(min(exec_starts) - w_exec, exec_s) if exec_starts else exec_s
        rec["gap_s"] = max(0.0, exec_s - rec["plan_s"] - union_s(exec_iv))
        return rec

    def _read(self, getter, *args):
        try:
            return json.loads(self._mapper.writeValueAsString(getter(*args)))
        except Py4JJavaError:  # evicted or never posted
            return None

    def _add_stage(self, sid: int, rec: dict) -> None:
        if sid in self._seen_stages:
            return
        st = self._read(self._store.lastStageAttempt, sid)
        if st is None or st.get("status") != "COMPLETE":
            return  # skipped: its work ran in an earlier job
        self._seen_stages.add(sid)
        rec["stages"] += 1
        rec["tasks"] += st["numCompleteTasks"]
        rec["task_run_s"] += st["executorRunTime"] / 1000
        rec["task_cpu_s"] += st["executorCpuTime"] / 1e9
        rec["shuffle_write_mb"] += st["shuffleWriteBytes"] / MB
        rec["shuffle_read_mb"] += st["shuffleReadBytes"] / MB
        rec["spill_mb"] += st["diskBytesSpilled"] / MB
        rec["output_mb"] += st["outputBytes"] / MB
        # skew only where task times are large enough to mean something
        if st["numCompleteTasks"] >= 2 and st["executorRunTime"] >= 100:
            q = self._gateway.new_array(self._jvm.double, 2)
            q[0], q[1] = 0.5, 1.0
            dist = self._read(self._store.taskSummary, sid, st["attemptId"], q)
            if dist and dist.get("executorRunTime"):
                med, top = dist["executorRunTime"]
                if med > 0:
                    rec["task_skew"] = max(rec["task_skew"], top / med)

    # -- per pass -------------------------------------------------------
    def jvm_begin(self) -> float:
        for p in self._heap:
            p.resetPeakUsage()
        return self.gc_s()

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._gcs) / 1000

    def heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self._heap) / MB
