"""Spans and per-layer counters for the traced pass.

Spans are kept in memory (name, start, end, parent and attributes) and
written out when the run ends. The layers are measured from outside the
program: timings around the calls into ``__spark_entry__`` builders,
Catalyst planning and ``collect``; Spark's job counter and status store
for scheduler, executor, shuffle and I/O figures; GC MXBeans for the JVM;
and wrappers, installed for the traced pass only, around the versioned
table entry points and ``cache.tracked_persist``.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import time

MB = 1 << 20

VERSIONED_CALLS = (
    "commit_append",
    "commit_merge",
    "commit_upsert",
    "apply_changes",
    "read_version",
    "table_changes",
    "set_bloom_index",
)

#: per-query counters summed into the workload's per-layer metrics
STAGE_FIELDS = {
    "sched.tasks": ("numTasks", 1),
    "executor.task_run_s": ("executorRunTime", 1e-3),
    "executor.task_cpu_s": ("executorCpuTime", 1e-9),
    "shuffle.write_mb": ("shuffleWriteBytes", 1 / MB),
    "shuffle.read_mb": ("shuffleReadBytes", 1 / MB),
    "shuffle.spill_mb": ("memoryBytesSpilled", 1 / MB),
    "sources.input_mb": ("inputBytes", 1 / MB),
    "versioned.output_mb": ("outputBytes", 1 / MB),
}


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans) + 1,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()


class JvmProbe:
    """Read-only views of the driver JVM through py4j."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._jvm = spark._jvm
        self._no_quantiles = spark.sparkContext._gateway.new_array(self._jvm.double, 0)
        self._mf = self._jvm.java.lang.management.ManagementFactory
        self.last_stage = -1

    def pid(self) -> int:
        return int(self._jvm.java.lang.ProcessHandle.current().pid())

    def next_job_id(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    def drain(self) -> None:
        """Wait until the status store has seen every finished stage."""
        self._sc.listenerBus().waitUntilEmpty()

    def gc_ms(self) -> int:
        return sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans())

    def heap_used_mb(self) -> float:
        return self._mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / MB

    def new_stages(self) -> dict[str, float]:
        """Sums over stages that started since the previous call;
        skipped stages are not counted."""
        stages = self._sc.statusStore().stageList(
            None, False, False, self._no_quantiles, None
        )
        out = {k: 0.0 for k in STAGE_FIELDS}
        out["sched.stages"] = 0
        newest = self.last_stage
        for i in range(stages.size()):  # newest first
            sd = stages.apply(i)
            sid = sd.stageId()
            if sid <= self.last_stage:
                break
            newest = max(newest, sid)
            if str(sd.status()) == "SKIPPED":
                continue
            out["sched.stages"] += 1
            for key, (getter, scale) in STAGE_FIELDS.items():
                out[key] += getattr(sd, getter)() * scale
        self.last_stage = newest
        return out


def _library_modules():
    return [
        m
        for n, m in list(sys.modules.items())
        if m is not None and (n == "__spark_entry__" or n.startswith("amadeus_spark"))
    ]


class Wrappers:
    """Count and time calls into the versioned table layer and
    ``tracked_persist`` while installed. Every module attribute bound to
    an original function is replaced, so ``from x import f`` call sites
    are covered too; only outermost versioned calls are counted."""

    def __init__(self, tracer: Tracer, probe: JvmProbe) -> None:
        self.tracer = tracer
        self.probe = probe
        self.depth = 0
        self.calls = 0
        self.call_s = 0.0
        self.call_jobs = 0
        self.persists = 0
        self._undo: list[tuple[object, str, object]] = []

    def _versioned(self, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            outer = self.depth == 0
            self.depth += 1
            j0 = self.probe.next_job_id()
            with self.tracer.span(f"versioned.{fn.__name__}") as rec:
                try:
                    return fn(*args, **kwargs)
                finally:
                    self.depth -= 1
                    rec["jobs"] = self.probe.next_job_id() - j0
                    if outer:
                        self.calls += 1
                        self.call_jobs += rec["jobs"]
                        self.call_s += time.perf_counter() - rec["start"]

        return wrapper

    def _persist(self, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            self.persists += 1
            with self.tracer.span("cache.tracked_persist"):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        from amadeus_spark import cache
        from amadeus_spark.operators import versioned

        originals = {getattr(versioned, n): self._versioned for n in VERSIONED_CALLS}
        originals[cache.tracked_persist] = self._persist
        replacement = {id(fn): make(fn) for fn, make in originals.items()}
        for mod in _library_modules():
            for attr, value in list(vars(mod).items()):
                if id(value) in replacement:
                    self._undo.append((mod, attr, value))
                    setattr(mod, attr, replacement[id(value)])

    def uninstall(self) -> None:
        for mod, attr, value in reversed(self._undo):
            setattr(mod, attr, value)
        self._undo.clear()
