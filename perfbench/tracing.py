"""In-memory span recorder and JVM counter snapshots for traced runs.

A span is (run id, pass index, span id, parent id, name, start, end,
attributes).
Spans live in memory and are written out once, at the end of a run.
Counter snapshots read state from outside the program: Spark's status
store (after the listener bus drains) and the codegen counters.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

_CODEGEN = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"

# StageData fields summed over every stage in the status store
_STAGE_FIELDS = {
    "spark.tasks": "numCompleteTasks",
    "spark.tasks_failed": "numFailedTasks",
    "spark.shuffle_write_bytes": "shuffleWriteBytes",
    "spark.shuffle_read_bytes": "shuffleReadBytes",
    "spark.executor_run_s": "executorRunTime",  # ms
    "spark.executor_cpu_s": "executorCpuTime",  # ns
    "spark.gc_s": "jvmGcTime",  # ms
}
_SCALE = {"spark.executor_run_s": 1e-3, "spark.executor_cpu_s": 1e-9, "spark.gc_s": 1e-3}


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op,
    so untraced runs pay nothing but a context-manager entry."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.pass_index = 0
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _open(self, name: str, start: float, attrs: dict) -> dict:
        rec = {
            "run": self.run_id,
            "pass": self.pass_index,
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": start,
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        return rec

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        rec = self._open(name, time.perf_counter(), attrs)
        self._stack.append(rec["id"])
        try:
            yield attrs
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        """A finished span timed by the caller, child of the open span."""
        if self.enabled:
            self._open(name, start, attrs)["end"] = end

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, default=str) + "\n")


class JvmCounters:
    """Cumulative counters of one SparkSession's JVM. ``snapshot``
    returns absolute values; callers subtract two snapshots taken at
    the boundaries of the span they measure."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self._sc = sc._jsc.sc()
        mapper = self._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        mapper.registerModule(self._jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._mapper = mapper

    def codegen(self) -> dict:
        hist = self._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        return {
            "codegen.compiles": int(hist.getCount()),
            "codegen.compile_ms": getattr(self._jvm, _CODEGEN).compileTime() / 1e6,
        }

    def status(self) -> dict:
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        stages = json.loads(
            self._mapper.writeValueAsString(
                store.stageList(None, False, False, self._gw.new_array(self._jvm.double, 0), None)
            )
        )
        out = {
            "spark.jobs": int(store.jobsList(None).size()),
            "spark.stages": len(stages),
            "spark.spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages),
        }
        for key, field in _STAGE_FIELDS.items():
            out[key] = sum(s[field] for s in stages) * _SCALE.get(key, 1)
        return out

    def snapshot(self) -> dict:
        return {**self.status(), **self.codegen()}

    def clear_codegen_cache(self) -> None:
        """Empty the JVM-wide generated-class cache, so the next query
        compiles cold as it would in a new JVM. The cache is a private
        member of the CodeGenerator object; reflection reaches it."""
        cls = self._jvm.java.lang.Class.forName(_CODEGEN + "$")
        module = cls.getDeclaredField("MODULE$").get(None)
        getter = cls.getDeclaredMethod("cache", self._gw.new_array(self._jvm.java.lang.Class, 0))
        getter.setAccessible(True)
        getter.invoke(module, self._gw.new_array(self._jvm.java.lang.Object, 0)).invalidateAll()


def delta(after: dict, before: dict) -> dict:
    return {k: after[k] - before.get(k, 0) for k in after}
