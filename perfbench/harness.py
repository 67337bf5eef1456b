"""Shared machinery of the benchmark: host sizing, the Spark session's
lifetime, the closed loop with its correctness accounting, and summary
statistics."""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_DIR = os.path.join(ROOT, "perfbench", ".work")

# Driver heap for every workload. The largest cached data (the store
# workload's fixture) is tens of MB in memory, so 2g leaves the storage pool
# room to spare while keeping the pre-touched heap small on a shared host.
DRIVER_MEM = "2g"


def cpu_steal_s() -> float:
    """Seconds the hypervisor gave this guest's CPUs to other guests."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def log(msg: str) -> None:
    print(f"# perfbench: {msg}", file=sys.stderr, flush=True)


def size_host(run_dir: str) -> dict[str, str]:
    """Set the session's sizing environment from this host and return it.

    Cores come from the CPU affinity mask, the heap is ``DRIVER_MEM``,
    Spark's scratch space and every temporary file of the JVM and Python
    go to directories of this run, and Python workers import the engine
    from the checkout."""
    local_dirs = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local_dirs, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    path = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    java_opts = os.environ.get("JAVA_TOOL_OPTIONS", "").split()
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local_dirs,
        "PYTHONPATH": os.pathsep.join(path),
        "TMPDIR": tmp,
        # no hsperfdata file, no native-library extraction and no crash
        # report outside the run
        "JAVA_TOOL_OPTIONS": " ".join(
            java_opts
            + [
                f"-Djava.io.tmpdir={tmp}",
                "-XX:-UsePerfData",
                f"-XX:ErrorFile={os.path.join(run_dir, 'hs_err_pid%p.log')}",
            ]
        ),
    }
    os.environ.update(env)
    return env


class Session:
    """The engine's Spark session for one benchmark process.

    ``stop`` ends the session and waits for the JVM to exit, so no
    process outlives the benchmark."""

    def __init__(self):
        # imported here: the module reads its sizing when it is imported
        from neo4j_enterprise_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench")
        self.start_s = time.perf_counter() - t0
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self._proc = self.spark.sparkContext._gateway.proc

    def peak_rss_mb(self) -> float:
        """Peak resident set of the driver JVM plus this Python process."""
        return (_vm_hwm_kb(self._proc.pid) + _vm_hwm_kb(os.getpid())) / 1024.0

    def stop(self) -> None:
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        if self._proc.stdin is not None:
            self._proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            self._proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self._proc.kill()
            self._proc.wait(timeout=30)


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# --- operations and the closed loop ---------------------------------------


@dataclass
class Op:
    """One client request. ``run(span)`` performs it and returns its result;
    ``check(result)`` says whether the result is correct. Checks run after
    the timed loop, so reference answers cost no measured time."""

    kind: str
    label: str
    run: Callable
    check: Callable[[object], bool]


@dataclass
class Done:
    op: Op
    latency_s: float
    result: object = None
    error: str | None = None
    span: dict | None = None


@dataclass
class Pass:
    """The operations one closed-loop pass completed."""

    done: list[Done] = field(default_factory=list)
    wall_s: float = 0.0

    def ok(self) -> list[Done]:
        return [d for d in self.done if d.error is None]


def closed_loop(cycles: Callable[[int], list[Op]], seconds: float, tracer) -> Pass:
    """One client sends the next request only after the previous reply.

    ``cycles(i)`` gives the i-th cycle of requests. Whole cycles run until
    ``seconds`` have passed, so every run completes the same mix."""
    out = Pass()
    t0 = time.perf_counter()
    i = 0
    while i == 0 or time.perf_counter() - t0 < seconds:
        for op in cycles(i):
            span = tracer.begin(op)
            s = time.perf_counter()
            try:
                result, error = op.run(span), None
            except Exception as e:  # a raised op is a failed op, and the loop goes on
                result, error = None, f"{type(e).__name__}: {e}"[:300]
            latency = time.perf_counter() - s
            out.done.append(Done(op, latency, result, error, tracer.end(span, latency)))
        i += 1
    out.wall_s = time.perf_counter() - t0
    return out


def grade(passes: list[Pass]) -> tuple[int, int]:
    """(attempted, failed): an op fails when it raised or its check says
    its result is wrong. Results are dropped once checked."""
    attempted = failed = 0
    for p in passes:
        for d in p.done:
            attempted += 1
            if d.error is None:
                try:
                    good = bool(d.op.check(d.result))
                except Exception as e:
                    d.error = f"check raised {type(e).__name__}: {e}"[:300]
                else:
                    if not good:
                        d.error = "wrong result"
            if d.error is not None:
                failed += 1
                log(f"FAILED {d.op.kind} {d.op.label}: {d.error}")
            d.result = None
    return attempted, failed


# --- statistics --------------------------------------------------------------


def summary(values: list[float]) -> dict:
    """Median, quartiles, p90 and n of a sample (inclusive quantiles)."""
    v = sorted(values)
    if not v:
        return {"n": 0}
    if len(v) == 1:
        q1 = med = q3 = p90 = v[0]
    else:
        q1, med, q3 = statistics.quantiles(v, n=4, method="inclusive")
        p90 = statistics.quantiles(v, n=10, method="inclusive")[8]
    return {"median": med, "q1": q1, "q3": q3, "p90": p90, "max": v[-1], "n": len(v)}


def loop_metrics(p: Pass) -> dict[str, float]:
    """The end-to-end metrics of a closed-loop pass. A run completes tens
    of operations, too few for a tail percentile, so latency is reported as
    its median; the detail report carries the quartiles and p90."""
    return {
        "ops_per_s": len(p.ok()) / p.wall_s if p.wall_s > 0 else 0.0,
        "latency_p50_s": summary([d.latency_s for d in p.ok()]).get("median", 0.0),
    }
