"""Turns the harness's per-op records into the benchmark's metrics.

Pure functions over the result file the JVM writes, so the rules that
decide a number can be tested without Spark:

- latencies use nearest-rank percentiles over every attempted op; a
  failed op ranks above every completed one (it missed every latency
  limit), and a percentile that lands on one reads as the whole timed
  window, never as a fast op;
- latency_p90_s exists only for runs of at least 100 ops, so that ten
  samples lie beyond it;
- throughput counts completed ops only;
- a tracing overhead no larger than the workload's measured run-to-run
  spread of that metric is reported as unresolved.
"""
import math
import re

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# name -> unit, in the order they are printed
END_TO_END = {
    "latency_p50_s": "s",
    "throughput_ops_s": "1/s",
    "ok_frac": "fraction",
    "heap_retained_mb": "MB",
    "setup_s": "s",
}
P90_MIN_OPS = 100

LAYER_UNITS = {
    "queries.build_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "plan.nodes": "count",
    "plan.exchanges": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.floor_s": "s",
    "spark.task_cpu_s": "s",
    "spark.task_run_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "operators.storage_peak_mb": "MB",
    "operators.release_s": "s",
    "etl.ingest_s": "s",
    "etl.clean_s": "s",
    "etl.warehouse_s": "s",
    "etl.views_s": "s",
    "etl.sinks_s": "s",
    "etl.rows_in": "count",
    "etl.rows_staged": "count",
    "etl.rows_dlq": "count",
    "etl.written_mb": "MB",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "streaming.rows_per_s": "1/s",
    "streaming.state_rows": "count",
    "streaming.dlq_rows": "count",
    "streaming.sink_s": "s",
}
SETUP_UNITS = {"setup.session_s": "s", "setup.generate_s": "s", "setup.warm_s": "s"}
# set-up runs once per run, before the census attaches, so a traced and an
# untraced twin exist only for the timed phase's metrics
TIMED = [k for k in END_TO_END if k != "setup_s"]
OVERHEAD_UNITS = {f"trace.overhead.{k}": END_TO_END[k] for k in TIMED}
PER_LAYER = {**LAYER_UNITS, **SETUP_UNITS, **OVERHEAD_UNITS}


def nearest_rank(values, q):
    """The q-quantile (0 < q <= 1) by nearest rank: the smallest value with
    at least q of the values at or below it."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def latency(ops, q):
    """q-quantile of op latency; failed ops rank last and, if the quantile
    falls on one, it reads as the whole timed window."""
    ranked = [o["latency_s"] if o["ok"] else math.inf for o in ops]
    v = nearest_rank(ranked, q)
    return window_s(ops) if math.isinf(v) else v


def window_s(ops):
    """Seconds of the timed phase: each op and the block release after it."""
    return sum(o["latency_s"] + o["release_s"] for o in ops)


def setup_s(result):
    """Session start + input generation + the warm pass."""
    return result["session_s"] + result["generate_s"] + result["warm_s"]


def end_to_end(ops, result, heap_mb):
    """Every end-to-end metric of one kind of op (traced or untraced)."""
    done = sum(1 for o in ops if o["ok"])
    return {
        "latency_p50_s": latency(ops, 0.5),
        "throughput_ops_s": done / window_s(ops),
        "ok_frac": done / len(ops),
        "heap_retained_mb": heap_mb,
        "setup_s": setup_s(result),
    }


def p90(ops):
    """latency_p90_s, or None below P90_MIN_OPS ops."""
    return latency(ops, 0.9) if len(ops) >= P90_MIN_OPS else None


def per_layer(result):
    """Per-layer metrics of a traced run: per-op means over traced ops,
    set-up parts, and tracing overhead (traced minus untraced twin) for
    every end-to-end metric of the timed phase. Also returns the untraced
    twins' end-to-end metrics, against which overheads are judged."""
    traced = [o for o in result["ops"] if o["traced"]]
    plain = [o for o in result["ops"] if not o["traced"]]
    out = {k: sum(o["layers"].get(k, 0.0) for o in traced) / len(traced) for k in LAYER_UNITS}
    out["setup.session_s"] = result["session_s"]
    out["setup.generate_s"] = result["generate_s"]
    out["setup.warm_s"] = result["warm_s"]
    # the heap grows with every op: compare growth over the traced passes
    # with growth over their untraced twins
    on = end_to_end(traced, result, result["heap_growth_mb_traced"])
    off = end_to_end(plain, result, result["heap_growth_mb"])
    for k in TIMED:
        out[f"trace.overhead.{k}"] = on[k] - off[k]
    off["heap_retained_mb"] = result["heap_mb"]
    return out, off


def overhead_note(name, value, untraced, spread):
    """'resolved' when the overhead exceeds the metric's run-to-run spread
    (a share of its value), else 'unresolved' with the spread it is
    within."""
    noise = spread.get(name, 0.0) * abs(untraced)
    if abs(value) > noise:
        return "resolved"
    return f"unresolved: within the run-to-run spread of +-{noise:.3g}"


def summarize(result, trace, spread=None):
    """(metrics dict for the JSON line, attempted, failed, report lines).
    `spread` maps an end-to-end metric to its measured run-to-run spread,
    a share of its median, against which tracing overheads are judged."""
    ops = [o for o in result["ops"] if not o["traced"]]
    failed = [o for o in result["ops"] if not o["ok"]]
    checks_failed = [c for c in result["checks"] if not c["ok"]]
    e2e = end_to_end(ops, result, result["heap_mb"])
    lines = [f"{k} {v:.6g} {END_TO_END[k]}" for k, v in e2e.items()]
    lines.insert(1, f"latency samples {len(ops)} ops")
    tail = p90(ops)
    lines.insert(2, f"latency_p90_s {tail:.6g} s" if tail is not None else
                 f"latency_p90_s not reported: {len(ops)} ops < {P90_MIN_OPS}")
    lines.append(f"failed_frac {len(failed) / len(result['ops']):.6g} fraction "
                 f"({len(failed)} of {len(result['ops'])} ops)")
    for o in failed:
        lines.append(f"  failed {o['id']} {o['name']}: {o['error']}")
    for c in checks_failed:
        lines.append(f"  output check failed {c['name']}: {c['error']}")
    verdict = "PASS" if not failed and not checks_failed else "FAIL"
    lines.append(f"output verdict {verdict}: {len(result['checks'])} output checks, "
                 f"{len(checks_failed)} failed")
    if trace:
        layer, untraced = per_layer(result)
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
        lines += [f"{k} {v['value']:.6g} {v['unit']}" for k, v in metrics.items()
                  if k not in OVERHEAD_UNITS]
        for k in TIMED:
            v = layer[f"trace.overhead.{k}"]
            lines.append(f"trace.overhead.{k} {v:.6g} {END_TO_END[k]} "
                         f"({overhead_note(k, v, untraced[k], spread or {})})")
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    return metrics, len(result["ops"]), len(failed), verdict == "PASS", lines
