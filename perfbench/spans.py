"""The traced pass: per-operation spans attributed to the engine's layers.

Everything is observed from outside the engine. Each operation runs under
its own ``setJobGroup``; the workload code marks the calls it makes into
the engine as phases (``build`` for plan construction, ``collect`` for
execution plus result transfer, or a named engine call). After the
operation the tracer reads

- the jobs the operation launched, from the scheduler's job counter, and
  their stages and task metrics from Spark's status store (reachable with
  the UI disabled);
- Catalyst's phase times from the DataFrame's ``QueryExecution`` tracker;
- GC time and heap peaks from the JVM's management beans.

Spans stay in memory until the benchmark ends. ``NullTracer`` keeps the
timed pass free of all of this.
"""

from __future__ import annotations

import contextlib
import time

from py4j.protocol import Py4JJavaError

MB = 1024.0 * 1024.0


class NullTracer:
    """The untraced pass: no job groups, no status reads."""

    def begin(self, op):
        return None

    def end(self, span, latency_s):
        return None


@contextlib.contextmanager
def phase(span, name: str):
    """Mark a call into an engine layer; a no-op when ``span`` is None."""
    if span is None:
        yield
        return
    span["_tracer"].enter(span, name)
    try:
        yield
    finally:
        span["_tracer"].leave(span, name)


def catalyst(span, df) -> None:
    """Record Catalyst's analysis / optimization / planning times of ``df``."""
    if span is None:
        return
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        key = f"catalyst_{kv._1()}_ms"
        span[key] = span.get(key, 0.0) + float(kv._2().durationMs())


def rows(span, n: int) -> None:
    if span is not None:
        span["rows"] = span.get("rows", 0) + n


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.n = 0
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._heap_pools = [
            p for p in mf.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"
        ]

    # -- JVM-wide counters over a pass --------------------------------
    def reset_jvm(self) -> None:
        for p in self._heap_pools:
            p.resetPeakUsage()
        self._gc0 = self.gc_ms()

    def gc_ms(self) -> float:
        return float(sum(max(0, g.getCollectionTime()) for g in self._gcs))

    def jvm(self) -> dict:
        return {
            "jvm.gc_s": (self.gc_ms() - self._gc0) / 1000.0,
            "jvm.heap_peak_mb": sum(p.getPeakUsage().getUsed() for p in self._heap_pools) / MB,
        }

    # -- per-operation spans --------------------------------------------
    def _next_job(self) -> int:
        return int(self.jsc.dagScheduler().nextJobId())

    def begin(self, op) -> dict:
        self.n += 1
        self.sc.setJobGroup(f"perfbench-{self.n}", f"{op.kind} {op.label}"[:200])
        return {"_tracer": self, "kind": op.kind, "phases": {}, "_job0": self._next_job()}

    def enter(self, span, name) -> None:
        span["phases"][name] = {"t0": time.perf_counter(), "job0": self._next_job()}

    def leave(self, span, name) -> None:
        ph = span["phases"][name]
        ph["wall_s"] = time.perf_counter() - ph.pop("t0")
        ph["job1"] = self._next_job()

    def end(self, span, latency_s: float) -> dict:
        self.sc.setJobGroup("perfbench-idle", "between operations")
        job1 = self._next_job()
        self.jsc.listenerBus().waitUntilEmpty()
        jobs = {j: self._job(j) for j in range(span.pop("_job0"), job1)}
        span.pop("_tracer")
        span["latency_s"] = latency_s
        for name, ph in span["phases"].items():
            ids = range(ph.pop("job0"), ph.pop("job1"))
            ph["jobs"] = len(ids)
            ph["jobs_s"] = _union_s([jobs[j]["span"] for j in ids if j in jobs])
        stages = [s for j in jobs.values() for s in j["stages"]]
        span.update(
            jobs=len(jobs),
            stages=len(stages),
            tasks=sum(s["tasks"] for s in stages),
            run_s=sum(s["run_ms"] for s in stages) / 1000.0,
            input_mb=sum(s["input"] for s in stages) / MB,
            shuffle_write_mb=sum(s["shuffle_w"] for s in stages) / MB,
            shuffle_read_mb=sum(s["shuffle_r"] for s in stages) / MB,
            spill_mb=sum(s["spill"] for s in stages) / MB,
            jobs_s=_union_s([j["span"] for j in jobs.values()]),
        )
        return span

    def _job(self, job_id: int) -> dict:
        store = self.jsc.statusStore()
        try:
            j = store.job(job_id)
        except Py4JJavaError:  # evicted or never registered: count it, no detail
            return {"span": None, "stages": []}
        t0, t1 = j.submissionTime(), j.completionTime()
        span = (
            (t0.get().getTime() / 1000.0, t1.get().getTime() / 1000.0)
            if t0.isDefined() and t1.isDefined()
            else None
        )
        stages = []
        it = j.stageIds().iterator()
        while it.hasNext():
            try:
                s = store.lastStageAttempt(it.next())
            except Py4JJavaError:  # a stage the job never ran
                continue
            if s.status().toString() == "SKIPPED":
                continue
            stages.append(
                {
                    "tasks": s.numTasks(),
                    "run_ms": s.executorRunTime(),
                    "input": s.inputBytes(),
                    "shuffle_w": s.shuffleWriteBytes(),
                    "shuffle_r": s.shuffleReadBytes(),
                    "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                }
            )
        return {"span": span, "stages": stages}


def _union_s(intervals) -> float:
    """Total length covered by (start, end) intervals."""
    total, end = 0.0, None
    for a, b in sorted(i for i in intervals if i is not None):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
