"""Pure metric arithmetic of the benchmark (no I/O), unit-tested in
perfbench/tests.

- ``tail_percentile``: the percentile rule (a percentile is reported only
  when at least ten samples lie beyond it);
- ``valid_name``: the metric-name grammar;
- ``self_times``: a span's duration minus the part its children cover;
- ``layer_metrics``: per-layer numbers of one traced pass.
"""
import math
import re

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def valid_name(name):
    """Metric names: letters, digits, ``_``, ``.`` and ``-``, at most 64."""
    return bool(NAME.fullmatch(name)) and len(name) <= 64 and name[0].isalnum()


def percentile(values, q):
    """Nearest-rank q-th percentile (0 < q < 100) of a non-empty list."""
    xs = sorted(values)
    return xs[max(0, math.ceil(q / 100.0 * len(xs)) - 1)]


def tail_percentile(values, q, beyond=10):
    """The q-th percentile, or None unless at least ``beyond`` samples lie
    strictly above it."""
    if not values:
        return None
    p = percentile(values, q)
    return p if sum(1 for v in values if v > p) >= beyond else None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """id -> self time (same unit as the spans): duration minus the union
    of its children's intervals, each clipped to the parent's interval."""
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        if s["parent"] in by_id:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered = union_length([(max(lo, c["start_ms"]), min(hi, c["end_ms"]))
                                for c in kids.get(s["id"], [])
                                if min(hi, c["end_ms"]) > max(lo, c["start_ms"])])
        out[s["id"]] = (hi - lo) - covered
    return out


def layer_of(op):
    """Per-layer module of an op: the registering module, except that the
    GraphOps-backed qids (graph_*, hier_depth) form their own layer."""
    name = op["name"]
    if name.startswith("graph_") or name == "hier_depth":
        return "GraphOps"
    return op["module"]


SQL_LAYERS = ("Relational", "Windows", "EventStream", "functions", "sketch")


def layer_metrics(p, layers, job_spans, cores, mf_iters, pa_iters):
    """Per-layer numbers of one traced pass ``p`` (a pass record from the
    JVM), given the op-execution counters ``layers`` (key -> counters) and
    the pass's job spans."""
    ops = p["ops"]

    def c(op, k):
        return layers.get(f"{p['label']}/{op['name']}", {}).get(k, 0.0)

    def tot(k, sel=lambda op: True):
        return sum(c(op, k) for op in ops if sel(op))

    def lat(op):
        return op["construct_s"] + op["action_s"]

    mb = 1024.0 * 1024.0
    wall = p["wall_s"]
    m = {
        "Registry.construct_s": sum(op["construct_s"] for op in ops),
        "Registry.action_s": sum(op["action_s"] for op in ops),
        "Registry.ops": len(ops),
        "spark.catalyst.plans": tot("plans"),
        "spark.catalyst.analysis_s": tot("analysis_ms") / 1e3,
        "spark.catalyst.optimization_s": tot("optimization_ms") / 1e3,
        "spark.catalyst.planning_s": tot("planning_ms") / 1e3,
        "spark.scheduler.jobs": tot("jobs"),
        "spark.scheduler.stages": tot("stages"),
        "spark.scheduler.tasks": tot("tasks"),
        "spark.scheduler.task_overhead_s": (tot("task_dur_ms") - tot("task_run_ms")) / 1e3,
        "spark.scheduler.driver_gap_s": wall - union_length(
            [(max(s["start_ms"], p["start_ms"]), min(s["end_ms"], p["end_ms"]))
             for s in job_spans]) / 1e3,
        "spark.exec.task_run_s": tot("task_run_ms") / 1e3,
        "spark.exec.task_wait_s": tot("task_run_ms") / 1e3 - tot("task_cpu_ns") / 1e9,
        "spark.exec.busy_share": tot("task_run_ms") / 1e3 / (wall * cores),
        "spark.exec.stage_tail_s": tot("stage_tail_ms") / 1e3,
        "spark.shuffle.exchanges": tot("exchanges"),
        "spark.shuffle.write_mb": tot("shuffle_write_bytes") / mb,
        "spark.shuffle.read_mb": tot("shuffle_read_bytes") / mb,
        "spark.shuffle.records_written": tot("shuffle_records_written"),
        "spark.shuffle.write_s": tot("shuffle_write_ns") / 1e9,
        "spark.shuffle.fetch_wait_s": tot("fetch_wait_ms") / 1e3,
        "spark.memory.spill_mb": tot("spill_bytes") / mb,
        "spark.memory.peak_exec_mb": max([c(op, "peak_exec_bytes") for op in ops] + [0]) / mb,
        "spark.storage.cached_peak_mb": max([c(op, "cached_peak_bytes") for op in ops] + [0]) / mb,
        "jvm.gc_s": p["gc_s"],
        "sources.input_mb": tot("input_bytes") / mb,
        "sources.input_rows": tot("input_rows"),
        "sources.output_mb": tot("output_bytes") / mb,
        "sources.output_rows": tot("output_rows"),
    }
    for layer in ("LlmPipeline", "ps", "GraphOps", "streaming") + SQL_LAYERS:
        def in_layer(op, layer=layer):
            return layer_of(op) == layer
        m[f"{layer}.op_s"] = sum(lat(op) for op in ops if in_layer(op))
        if layer == "GraphOps":
            m["GraphOps.jobs"] = tot("jobs", in_layer)
        else:
            m[f"{layer}.task_cpu_s"] = tot("task_cpu_ns", in_layer) / 1e9
        if layer in ("LlmPipeline", "ps"):
            m[f"{layer}.shuffle_mb"] = tot("shuffle_write_bytes", in_layer) / mb
        if layer == "streaming":
            m["streaming.batches"] = tot("stream_batches", in_layer)
            m["streaming.state_rows"] = tot("state_rows", in_layer)
            m["streaming.state_commit_s"] = tot("state_commit_ms", in_layer) / 1e3
    mf = [op for op in ops if op["name"] == "MfTrainer.train"]
    pa = [op for op in ops if op["name"] == "PaTrainer.train"]
    m["ps.MfTrainer.iter_s"] = sum(lat(op) for op in mf) / mf_iters
    m["ps.MfTrainer.exchanges_per_iter"] = sum(c(op, "exchanges") for op in mf) / mf_iters
    m["ps.MfTrainer.jobs_per_iter"] = sum(c(op, "jobs") for op in mf) / mf_iters
    m["ps.PaTrainer.iter_s"] = sum(lat(op) for op in pa) / pa_iters
    return m
