"""Runs one workload and builds the benchmark's one-line result.

``--trace 0``: set-up, one measured window, the end-to-end metrics.
``--trace 1``: set-up, an untraced window, a traced window (spans, job
groups, stage numbers from the UI REST API) and the workload's extra
layer measurements; prints every per-layer metric. A layer the workload
does not run reads 0.
"""

from __future__ import annotations

import sys

import workloads

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "cpu_ms_per_item": "ms",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "streaming.playback.trigger_ms": "ms",
    "streaming.playback.add_batch_ms": "ms",
    "streaming.playback.log_ms": "ms",
    "streaming.playback.list_ms": "ms",
    "streaming.playback.plan_ms": "ms",
    "streaming.playback.rows_per_batch": "count",
    "streaming.playback.batches": "count",
    "streaming.playback.trigger_lag_ms": "ms",
    "streaming.playback.latency_p90_ms": "ms",
    "streaming.playback.drain_readings_per_s": "1/s",
    "streaming.playback.rate_ratio": "1",
    "streaming.playback.stamp_build_ms": "ms",
    "operators.readings.exec_ms": "ms",
    "driver.collect_ms": "ms",
    "process.jvm_cpu_s": "s",
    "process.python_cpu_s": "s",
    "host.steal_share": "1",
    **{
        f"operators.{mod}.{m}": {"build_s": "s", "exec_s": "s", "max_task_ms": "ms",
                                 "shuffle_write_bytes": "bytes", "spill_bytes": "bytes"
                                 }.get(m, "count")
        for mod in workloads.ANALYTICS_MODULES
        for m in workloads.MODULE_METRICS
    },
    "etl.repair_build_s": "s",
    "operators.clean.exec_s": "s",
    "operators.clean.window_tasks": "count",
    "operators.clean.scaling_exponent": "1",
    "trace.overhead_ms": "ms",
    "baseline.local1_throughput_per_s": "1/s",
}


def _metrics(values: dict[str, float], units: dict[str, str]) -> dict:
    return {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}


def run(h: workloads.Harness, name: str) -> dict:
    wl = workloads.WORKLOADS[name](h)
    setup = h.setup(wl.warm_pass)
    print(f"set-up rounds {[round(r, 2) for r in setup['rounds']]} s "
          f"({[round(r, 2) for r in setup['net_rounds']]} s net of steal), "
          f"warm passes {[round(r, 2) for r in setup['warm_pass_s']]} s", file=sys.stderr)
    if not h.trace:
        w = wl.window()
        values = {"setup_s": setup["setup_s"], **w}
        units = END_TO_END
    else:
        h.tracer.enabled = False
        untraced = wl.window()
        h.tracer.enabled = True
        with h.tracer.span("window.traced"):
            traced = wl.window(traced=True)
        values = {
            "session.get_spark_s": workloads.median(h.get_spark_s),
            **traced["layers"],
            "trace.overhead_ms": traced["latency_p50_ms"] - untraced["latency_p50_ms"],
        }
        with h.tracer.span("extras"):
            values.update(wl.extras())
        units = PER_LAYER
        print(f"untraced window: { {k: untraced[k] for k in END_TO_END if k in untraced} }",
              file=sys.stderr)
    return {
        "correct": h.failed == 0,
        "attempted": h.attempted,
        "failed": h.failed,
        "metrics": _metrics(values, units),
    }
