"""Metric definitions and the arithmetic that turns the driver's raw
record (op timings, spans, counts) into the benchmark's metrics."""
import re
import statistics

# end-to-end metrics: name -> unit
END_TO_END = {
    "setup_s": "s",
    "op_s": "s",
    "in_rows_per_s": "1/s",
    "peak_heap_mb": "MB",
    "out_bytes_per_in_byte": "ratio",
}

# per-layer metrics from the traced run: layer -> metrics. A layer is
# the public call (or group of calls) the traced re-composition times.
PARSE_LAYERS = {
    "candump.frames": ["self_s", "rows_out", "regex_miss"],
    "candump.crop": ["self_s", "shuffle_bytes", "drops"],
    "candecode.decode_wide": ["self_s", "shuffle_bytes", "spill_bytes",
                              "rows_out", "decoded_ratio"],
    "timeseries.jump_filter": ["self_s", "shuffle_bytes", "drops"],
    "parsestage.write": ["self_s", "bytes_written", "files_written"],
    "parsestage.report": ["self_s", "jobs"],
}
SEASON_LAYERS = {
    "parsestage.run": ["self_s", "jobs", "bytes_written"],
    "timeseries.union_merge": ["self_s", "jobs", "shuffle_bytes", "rows_out"],
    "resamplestage.run": ["self_s", "jobs", "shuffle_bytes", "spill_bytes",
                          "grid_cells", "rows_out"],
    "solarstage.forecast": ["self_s", "jobs"],
    "unifystages.forecast": ["self_s", "jobs", "shuffle_bytes", "rows_out"],
    "unifystages.gps": ["self_s", "jobs", "shuffle_bytes", "rows_out"],
    "unifystages.gps_track": ["self_s", "jobs"],
    "seasons.final": ["self_s", "jobs", "bytes_written"],
}
UNITS = {"self_s": "s", "jobs": "count", "bytes_written": "bytes",
         "files_written": "count", "shuffle_bytes": "bytes",
         "spill_bytes": "bytes", "rows_out": "count", "drops": "count",
         "regex_miss": "count", "grid_cells": "count",
         "decoded_ratio": "ratio"}

# every workload reports every layer; a layer its op does not call
# reads 0
LAYERS = {**PARSE_LAYERS, **SEASON_LAYERS}

# whole-op and tracing metrics: name -> unit
WHOLE_OP = {
    "jvm.gc_s": "s",
    "jvm.op_cpu_s": "s",
    "spark.sched_delay_s": "s",
    "spark.tasks": "count",
    "trace.overhead_s": "s",
    "trace.unattributed_s": "s",
}
# the traced run also times the workload's parse (ParseStage.run) alone
BASELINE = {
    "baseline.local1_lines_per_s_per_core": "1/s",
    "baseline.localN_lines_per_s_per_core": "1/s",
}

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def per_layer_names():
    """The per-layer metric names with units, in a stable order."""
    out = {f"{layer}.{m}": UNITS[m]
           for layer, ms in LAYERS.items() for m in ms}
    out.update(WHOLE_OP)
    out.update(BASELINE)
    return out


def self_times(spans):
    """Self time per span id: its duration minus its children's."""
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0.0) + \
                s["end_s"] - s["start_s"]
    return {s["id"]: s["end_s"] - s["start_s"] - child.get(s["id"], 0.0)
            for s in spans}


def layer_totals(spans):
    """Per traced op: {layer: {metric: value}} summed over the op's
    calls into that layer, plus the op's wall time and the self time of
    its root span (work outside every layer call)."""
    selfs = self_times(spans)
    ops = {}
    for s in spans:
        o = ops.setdefault(s["op"], {"layers": {}, "wall_s": 0.0, "root_s": 0.0})
        if s["name"] == "op":
            o["wall_s"] = s["end_s"] - s["start_s"]
            o["root_s"] = selfs[s["id"]]
            continue
        acc = o["layers"].setdefault(s["name"], {})
        acc["self_s"] = acc.get("self_s", 0.0) + selfs[s["id"]]
        for k, v in s.get("counts", {}).items():
            acc[k] = acc.get(k, 0.0) + v
    return ops


def med(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def failures(res):
    """op -> reason, for every op that threw or failed its check"""
    return {o["op"]: o["error"] for o in all_ops(res) if "error" in o}


def all_ops(res):
    return res["warmup"] + res["ops"] + res.get("traced", [])


def summarize(res, gen_s, trace):
    """The result object: every end-to-end metric (trace off) or every
    per-layer metric (trace on), plus correct/attempted/failed."""
    ops = res["ops"]
    attempted = len(all_ops(res))
    failed = len(failures(res))
    op_s = med(o["op_s"] for o in ops)
    if not trace:
        metrics = {
            "setup_s": gen_s + res["jvm_start_s"] + res["setup"]["session_s"]
            + sum(o["op_s"] for o in res["warmup"]),
            "op_s": op_s,
            "in_rows_per_s": res["in_rows"] / op_s,
            "peak_heap_mb": med(o["peak_heap_mb"] for o in ops),
            "out_bytes_per_in_byte": med(o["out_bytes"] for o in ops) / res["in_bytes"],
        }
        units = END_TO_END
    else:
        per_op = layer_totals(res["spans"]).values()
        metrics = {}
        for layer, ms in LAYERS.items():
            for m in ms:
                metrics[f"{layer}.{m}"] = med(
                    o["layers"].get(layer, {}).get(m, 0.0) for o in per_op)
        metrics.update({
            "jvm.gc_s": res["gc_s"],
            "jvm.op_cpu_s": med(o["op_cpu_s"] for o in ops),
            "spark.sched_delay_s": med(o["sched_delay_s"] for o in ops),
            "spark.tasks": med(o["tasks"] for o in ops),
            "trace.overhead_s": med(o["wall_s"] for o in per_op) - op_s,
            "trace.unattributed_s": med(o["root_s"] for o in per_op),
        })
        units = per_layer_names()
        for k in BASELINE:
            metrics[k] = res[k.split(".", 1)[1]]
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()}}
