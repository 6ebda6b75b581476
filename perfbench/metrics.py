"""Per-layer metrics of a traced run, and the wrapper-coverage self-test.

Per-pass counters are the median over the run's traced passes. The
traced run alternates untraced and traced passes, so the tracing
overhead is the difference of their median pass walls in one process.
"""

from __future__ import annotations

import statistics

from layers import TARGETS

LAYERS = ("session", "registry", "operators", "catalog", "functions", "mapreduce", "artifacts", "streaming")

# name -> unit, in the order BENCHMARK.json lists them
PER_LAYER = {
    "session.jobs": "count",
    "session.stages": "count",
    "session.tasks": "count",
    "session.task_useful_ratio": "ratio",
    "session.shuffle_write_bytes": "bytes",
    "session.spill_bytes": "bytes",
    "session.jvm_cpu_s": "s",
    "session.gc_s": "s",
    "session.startup_s": "s",
    "registry.plan_s": "s",
    "registry.eager_jobs": "count",
    "registry.driver_cpu_s": "s",
    "operators.exec_s": "s",
    "catalog.load_table_calls": "count",
    "catalog.rowcount_s": "s",
    "catalog.fingerprint_s": "s",
    "functions.python_cpu_s": "s",
    "mapreduce.run_job_calls": "count",
    "mapreduce.exec_s": "s",
    "mapreduce.shuffle_bytes": "bytes",
    "artifacts.build_s": "s",
    "artifacts.append_s": "s",
    "artifacts.compact_s": "s",
    "artifacts.roots_published": "count",
    "artifacts.bytes_written": "bytes",
    "artifacts.reuse_ratio": "ratio",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.drain_s": "s",
    "streaming.stage_s": "s",
    "streaming.state_rows_peak": "count",
    "streaming.state_memory_peak_bytes": "bytes",
    "streaming.memory_sinks_live": "count",
    "batch_p50_ms": "ms",
    "batch_p90_ms": "ms",
    "latency_p90_s": "s",
    "failed_frac": "ratio",
    "peak_rss_mb": "MB",
    **{f"{layer}.self_s": "s" for layer in LAYERS},
    "trace.uncovered_s": "s",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}

# counters that must read 0 on a workload that names the layer idle
IDLE_COUNTERS = {
    "mapreduce": ("mapreduce.run_job_calls", "mapreduce.exec_s", "mapreduce.shuffle_bytes"),
    "streaming": ("streaming.batches", "streaming.drain_s", "streaming.stage_s", "streaming.memory_sinks_live"),
    "artifacts": ("artifacts.roots_published", "artifacts.bytes_written", "artifacts.build_s",
                  "artifacts.append_s", "artifacts.compact_s"),
}
PYTHON_IDLE_CPU_S = 0.05  # per pass: allowance for "no Python worker work"


def pct(xs: list[float], p: int) -> float:
    """The ``p``-th percentile, linear between order statistics."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


def per_layer(bench, passes: list[dict], tr) -> tuple[dict, dict]:
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    vals = {k: statistics.median(p["layers"][k] for p in traced) for k in traced[0]["layers"]}
    batches = [b for p in traced for b in p["batch_trigger_ms"]]
    traced_wall = statistics.median(p["wall_s"] for p in traced)
    vals.update({
        "session.startup_s": bench.startup_s,
        "batch_p50_ms": statistics.median(batches) if batches else 0.0,
        "batch_p90_ms": pct(batches, 90) if batches else 0.0,
        "latency_p90_s": pct([v for p in plain for v in p["latency_s"].values()], 90),
        "failed_frac": bench.failed / bench.attempted,
        "peak_rss_mb": sum(bench.peak_rss.values()),
        "trace.wall_s": traced_wall,
        "trace.overhead_s": traced_wall - statistics.median(p["wall_s"] for p in plain),
    })
    metrics = {k: {"value": vals[k], "unit": u} for k, u in PER_LAYER.items()}

    problems = []
    fired = {k for p in traced for k in p["calls"]}
    for name in bench.wl.expect_calls:
        if name not in fired:
            problems.append(f"{name} never fired on {bench.wl.name}")
    for _home, name, _layer in TARGETS:
        if not tr.patched.get(name):
            problems.append(f"{name} was not wrapped anywhere")
    for layer in bench.wl.expect_idle:
        if layer == "functions":
            if vals["functions.python_cpu_s"] > PYTHON_IDLE_CPU_S:
                problems.append(f"functions.python_cpu_s {vals['functions.python_cpu_s']:.3f} > {PYTHON_IDLE_CPU_S}")
            continue
        for k in IDLE_COUNTERS[layer]:
            if any(p["layers"][k] for p in traced):
                problems.append(f"{k} is not 0 on {bench.wl.name}")
    selftest = {
        "problems": problems,
        "fired": sorted(fired),
        "batch_samples": len(batches),
        "traced_passes": len(traced),
    }
    return metrics, selftest
