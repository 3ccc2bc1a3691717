"""Per-layer metrics of a traced run, computed from its spans.

Every metric is reported on every workload; a layer the workload does
not exercise reads 0. Per-pass values are summed over one traced warm
pass, then the median is taken over the traced warm passes. Job and
stage counts come from the status store (see tracing.py); a span's job
totals include those of the spans nested in it.

The layer metric -> end-to-end metric -> workload map that says which
number each layer metric should move is in perfbench/README.md.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from tracing import STAGE_FIELDS

JOB_KEYS = ("jobs", "stages", *STAGE_FIELDS)

#: metric name -> unit, in the order BENCHMARK.json lists them
UNITS = {
    "session.start_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.register_s": "s",
    "queries.register_calls": "count",
    "plan.plan_s": "s",
    "exec.exec_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.jvm_gc_s": "s",
    "exec.input_bytes": "bytes",
    "staging.persist_calls": "count",
    "staging.persist_s": "s",
    "staging.cached_bytes_max": "bytes",
    "staging.cached_bytes_final": "bytes",
    "staging.cached_rdds_max": "count",
    "staging.pass_drift": "ratio",
    "sinks.write_s": "s",
    "sinks.staging_table_s": "s",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "sinks.partition_dirs": "count",
    "sinks.bytes_per_input_byte": "ratio",
    "sinks.dump_rows_per_s": "rows/s",
    "logs.append_s": "s",
    "logs.appends": "count",
    "logs.files": "count",
    "capture.window_p50_s": "s",
    "capture.jobs_per_window": "count",
    "capture.fetch_s": "s",
    "capture.injected_failures": "count",
    "capture.healed_windows": "count",
    "capture.heal_ratio": "ratio",
    "spine.find_gaps_s": "s",
    "watermark.read_s": "s",
    "watermark.advance_s": "s",
    "watermark.files": "count",
    "models.run_s": "s",
    "models.jobs": "count",
    "models.materialize_p50_s": "s",
    "checks.run_s": "s",
    "checks.jobs": "count",
    "trace.overhead_s": "s",
}


def _dur(span) -> float:
    return span["end"] - span["start"]


def _median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


def _attach_tree_jobs(spans) -> None:
    """Give every span ``tree_jobs``: its own job totals plus those of
    every span nested in it (children always follow their parent)."""
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        s["tree_jobs"] = dict(s.get("self_jobs") or dict.fromkeys(JOB_KEYS, 0))
    for s in reversed(spans):
        if s["parent"] is not None:
            parent = by_id[s["parent"]]["tree_jobs"]
            for k in JOB_KEYS:
                parent[k] += s["tree_jobs"][k]


def _pass_values(spans, facts, source_rows) -> dict:
    """Layer values summed over the spans of one pass."""
    named = defaultdict(list)
    roots = []
    for s in spans:
        named[s["name"]].append(s)
        if s["parent"] is None:
            roots.append(s)
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)

    def total(name):
        return sum(_dur(s) for s in named[name])

    def jobs(group, key="jobs"):
        return sum(s["tree_jobs"][key] for s in group)

    exec_jobs = {k: jobs(roots, k) - jobs(named["build"], k) for k in JOB_KEYS}
    flow_roots = [s for s in roots if s["name"] != "query"]
    windows = [s for s in roots if s["name"] == "capture_window"]
    dumps = [s for s in roots if s["name"] == "dump"]
    recaptures = [s for s in roots if s["name"] == "recapture"]
    injected = facts.get("injected", 0)
    healed = facts.get("healed", 0)
    return {
        "queries.build_s": total("build"),
        "queries.build_jobs": jobs(named["build"]),
        "queries.register_s": total("queries.register"),
        "queries.register_calls": len(named["queries.register"]),
        "plan.plan_s": total("plan"),
        "exec.exec_s": total("exec") + sum(_dur(s) for s in flow_roots),
        "exec.jobs": exec_jobs["jobs"],
        "exec.stages": exec_jobs["stages"],
        "exec.tasks": exec_jobs["tasks"],
        "exec.shuffle_write_bytes": exec_jobs["shuffle_write_bytes"],
        "exec.shuffle_read_bytes": exec_jobs["shuffle_read_bytes"],
        "exec.spill_bytes": exec_jobs["spill_memory_bytes"] + exec_jobs["spill_disk_bytes"],
        "exec.executor_run_s": exec_jobs["executor_run_ms"] / 1e3,
        "exec.executor_cpu_s": exec_jobs["executor_cpu_ns"] / 1e9,
        "exec.jvm_gc_s": exec_jobs["jvm_gc_ms"] / 1e3,
        "exec.input_bytes": exec_jobs["input_bytes"],
        "staging.persist_calls": len(named["staging.persist"]),
        "staging.persist_s": total("staging.persist"),
        "sinks.write_s": total("sinks.write"),
        "sinks.staging_table_s": total("sinks.staging_table"),
        "sinks.files_written": facts.get("lake_files", 0),
        "sinks.bytes_written": facts.get("lake_bytes", 0),
        "sinks.partition_dirs": facts.get("lake_partition_dirs", 0),
        "sinks.bytes_per_input_byte": facts.get("bytes_per_input_byte", 0.0),
        "sinks.dump_rows_per_s": source_rows / _dur(dumps[0]) if dumps else 0.0,
        "logs.append_s": total("logs.append"),
        "logs.appends": len(named["logs.append"]),
        "logs.files": facts.get("log_files", 0),
        "capture.window_p50_s": _median(_dur(s) for s in windows),
        "capture.jobs_per_window": jobs(windows) / len(windows) if windows else 0.0,
        "capture.fetch_s": total("capture.fetch"),
        "capture.injected_failures": injected,
        "capture.healed_windows": healed,
        "capture.heal_ratio": healed / injected if injected else 0.0,
        "spine.find_gaps_s": sum(
            _dur(r) - sum(_dur(c) for c in children[r["id"]] if c["name"] == "flows.capture_window")
            for r in recaptures
        ),
        "watermark.read_s": total("watermark.read"),
        "watermark.advance_s": total("watermark.advance"),
        "watermark.files": facts.get("watermark_files", 0),
        "models.run_s": total("models.run"),
        "models.jobs": jobs(named["models.run"]),
        "models.materialize_p50_s": _median(_dur(s) for s in roots if s["name"] == "materialize"),
        "checks.run_s": total("checks.run"),
        "checks.jobs": jobs(named["checks.run"]),
    }


def compute(result, spans, session_start_s: float, source_rows: int) -> dict:
    """name -> (value, unit) for every metric in ``UNITS``."""
    _attach_tree_jobs(spans)
    by_pass = defaultdict(list)
    for s in spans:
        by_pass[int(s["op"].split(":", 1)[0][1:])].append(s)
    warm = result["passes"][1:]
    traced = [p for p in warm if p["traced"]]
    untraced = [p for p in warm if not p["traced"]]
    per_pass = [_pass_values(by_pass[p["no"]], p["facts"], source_rows) for p in traced]
    values = {k: _median(v[k] for v in per_pass) for k in per_pass[0]}
    storage = result["storage"]
    drift_base = untraced if len(untraced) >= 2 else traced
    values.update({
        "session.start_s": session_start_s,
        "staging.cached_bytes_max": max(b for b, _ in storage),
        "staging.cached_bytes_final": storage[-1][0],
        "staging.cached_rdds_max": max(n for _, n in storage),
        "staging.pass_drift": (
            drift_base[-1]["time"] / drift_base[0]["time"] if len(drift_base) >= 2 else 1.0
        ),
        "trace.overhead_s": (
            _median(p["time"] for p in traced) - _median(p["time"] for p in untraced)
        ),
    })
    return {name: (values[name], unit) for name, unit in UNITS.items()}
