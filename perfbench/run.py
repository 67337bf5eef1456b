#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 5 --trace 0

Runs one workload (``query_mix`` or ``store``) in this process against the
engine in the checkout, and prints as its last stdout line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (name -> value and unit). ``--trace 0`` reports the end-to-end
metrics of one untraced closed-loop pass. ``--trace 1`` runs the same seed
three times — untraced, traced, untraced — and reports the per-layer
metrics of the traced pass and its overhead against the second untraced
pass, which is equally warm. A detail report (quartiles and sample counts
of every timing, and the effective session sizing) goes to stderr.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0] = ROOT  # import the benchmark as a package and the engine beside it

from perfbench import harness, spans  # noqa: E402

WORKLOADS = {
    "query_mix": "perfbench.query_mix:QueryMix",
    "store": "perfbench.store:Store",
}

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ops_per_s": "1/s",
    "latency_p50_s": "s",
}

_CLASS_FIELDS = {
    "p50_s": "s",
    "build_s": "s",
    "catalyst_ms": "ms",
    "jobs": "count",
    "stages": "count",
    "jobs_s": "s",
    "collect_s": "s",
}
_CLASSES = (
    "lookup", "expand", "traverse", "cypher", "declared",
    "validate", "backup_full", "backup_incremental", "restore",
)

PER_LAYER = {
    "session.start_s": "s",
    "graph.derive_s": "s",
    "graph.generate_s": "s",
    "plan.build_s": "s",
    "plan.build_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.run_s": "s",
    "exec.core_util": "ratio",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.input_mb": "MB",
    "collect.rows": "count",
    "collect.s": "s",
    **{
        f"check.{f}_s": "s"
        for f in (
            "nodes", "relationships", "first_property", "properties",
            "ownership", "dictionaries", "graph_props",
        )
    },
    "check.records_per_s": "1/s",
    "backup.full_s": "s",
    "backup.incremental_s": "s",
    "restore.replay_s": "s",
    "restore.verify_s": "s",
    "backup.bytes": "bytes",
    "backup.bytes_per_record": "bytes",
    "jvm.gc_s": "s",
    "jvm.heap_peak_mb": "MB",
    **{f"trace.overhead.{m}": "ratio" for m in ("ops_per_s", "latency_p50_s")},
    **{f"{c}.{f}": u for c in _CLASSES for f, u in _CLASS_FIELDS.items()},
}


def _collect_s(span) -> float:
    """Collect wall time not spent in Spark jobs or Catalyst: the transfer
    of rows to Python and driver-side conversion."""
    c = span["phases"].get("collect")
    if not c:
        return 0.0
    catalyst = span.get("catalyst_optimization_ms", 0.0) + span.get("catalyst_planning_ms", 0.0)
    return max(0.0, c["wall_s"] - c["jobs_s"] - catalyst / 1000.0)


def _span_fields(s) -> dict:
    build = s["phases"].get("build", {})
    analysis = s.get("catalyst_analysis_ms", 0.0)
    optimization = s.get("catalyst_optimization_ms", 0.0)
    planning = s.get("catalyst_planning_ms", 0.0)
    return {
        "build_s": build.get("wall_s", 0.0),
        "build_jobs": build.get("jobs", 0),
        "analysis_ms": analysis,
        "optimization_ms": optimization,
        "planning_ms": planning,
        "catalyst_ms": analysis + optimization + planning,
        "collect_s": _collect_s(s),
        **{k: s[k] for k in ("jobs", "stages", "tasks", "run_s", "jobs_s", "rows")
           if k in s},
        **{k: s[k] for k in ("shuffle_write_mb", "shuffle_read_mb", "spill_mb", "input_mb")},
    }


def layer_metrics(traced: harness.Pass, warm: harness.Pass, cores: int) -> dict:
    """Per-layer metrics of the traced pass: per-operation medians, the
    per-class split of query operations, and the tracing overhead."""
    fields = [(d.op.kind, d.latency_s, _span_fields(d.span)) for d in traced.ok()]

    def med(key, kind=None):
        vals = [f.get(key, 0.0) for k, _, f in fields if kind is None or k == kind]
        return harness.summary(vals).get("median", 0.0)

    busy = sum(lat for _, lat, _ in fields)
    out = {
        "plan.build_s": med("build_s"),
        "plan.build_jobs": med("build_jobs"),
        "catalyst.analysis_ms": med("analysis_ms"),
        "catalyst.optimization_ms": med("optimization_ms"),
        "catalyst.planning_ms": med("planning_ms"),
        "exec.jobs": med("jobs"),
        "exec.stages": med("stages"),
        "exec.tasks": med("tasks"),
        "exec.run_s": med("run_s"),
        "exec.core_util": sum(f["run_s"] for _, _, f in fields) / (busy * cores) if busy else 0.0,
        "exec.shuffle_write_mb": med("shuffle_write_mb"),
        "exec.shuffle_read_mb": med("shuffle_read_mb"),
        "exec.spill_mb": med("spill_mb"),
        "exec.input_mb": med("input_mb"),
        "collect.rows": med("rows"),
        "collect.s": med("collect_s"),
    }
    for c in _CLASSES:
        warm_lat = [d.latency_s for d in warm.ok() if d.op.kind == c]
        out[f"{c}.p50_s"] = harness.summary(warm_lat).get("median", 0.0)
        for f in _CLASS_FIELDS:
            if f != "p50_s":
                out[f"{c}.{f}"] = med(f, c)
    lt, lw = harness.loop_metrics(traced), harness.loop_metrics(warm)
    for m in lt:
        if lw[m] and lt[m]:
            ratio = lw[m] / lt[m] if m == "ops_per_s" else lt[m] / lw[m]
            out[f"trace.overhead.{m}"] = ratio - 1.0
    return out


def _detail(passes: dict) -> dict:
    """Quartiles and n of every timing, per pass and operation kind."""
    out = {}
    for name, p in passes.items():
        kinds = sorted({d.op.kind for d in p.done})
        out[name] = {
            "wall_s": p.wall_s,
            "ops": len(p.done),
            "latency_s": {
                k: harness.summary([d.latency_s for d in p.ok() if d.op.kind == k])
                for k in kinds
            },
        }
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run_dir = harness.fresh_dir(
        os.path.join(harness.WORK_DIR, f"run-{args.workload}-{os.getpid()}")
    )
    session = workload = None
    steal0 = harness.cpu_steal_s()
    try:
        env = harness.size_host(run_dir)  # before the engine reads its sizing
        try:
            importlib.import_module("neo4j_enterprise_spark.session")
        except ImportError as e:
            harness.log(f"the engine package is not importable from {ROOT}: {e}")
            return 2
        module, cls = WORKLOADS[args.workload].split(":")
        workload = getattr(importlib.import_module(module), cls)(run_dir, args.seed)

        session = harness.Session()
        layers = {name: 0.0 for name in PER_LAYER}
        layers["session.start_s"] = session.start_s
        layers.update(workload.setup(session))
        setup_s = session.start_s + layers["graph.derive_s"] + layers["graph.generate_s"]

        untraced = spans.NullTracer()
        passes = {"timed": workload.run(args.seconds, untraced)}
        if args.trace:
            tracer = spans.Tracer(session.spark)
            tracer.reset_jvm()
            passes["traced"] = workload.run(args.seconds, tracer)
            layers.update(tracer.jvm())
            passes["warm"] = workload.run(args.seconds, untraced)
            layers.update(layer_metrics(passes["traced"], passes["warm"], session.cores))
            layers.update(workload.extra_layers(passes["warm"], passes["traced"]))
        for i, p in enumerate(workload.untimed_checks()):
            passes[f"untimed_check_{i}"] = p
        peak_rss_mb = session.peak_rss_mb()
        attempted, failed = harness.grade(list(passes.values()))
    finally:
        if workload is not None:
            workload.close()
        if session is not None:
            session.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        values, units = layers, PER_LAYER
    else:
        values = {"setup_s": setup_s, "peak_rss_mb": peak_rss_mb, **harness.loop_metrics(passes["timed"])}
        units = END_TO_END
    harness.log(
        "detail "
        + json.dumps(
            {"workload": args.workload, "seed": args.seed, "session_env": env,
             "cpu_steal_s": harness.cpu_steal_s() - steal0,
             "setup_s": setup_s, "layers": layers, "passes": _detail(passes)},
            default=str,
        )
    )
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
