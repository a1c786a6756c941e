"""Metric catalogue and the reduction of measured passes to metrics.

``END_TO_END`` is printed by untraced runs and ``PER_LAYER`` by traced
runs, every name on every workload: a layer a workload does not touch
reads 0.  ``BENCHMARK.json`` declares the same two lists (a self-test
keeps them equal).
"""

from __future__ import annotations

import statistics

from workloads import AnalysisQueries, PipelineCold

END_TO_END = {
    # name: (unit, better)
    "setup_s": ("s", "lower"),
    "pass_s": ("s", "lower"),
    "files_written": ("count", "lower"),
    "stored_bytes_per_input_byte": ("B/B", "lower"),
}

TASK_STAGES = tuple(t.name for t in PipelineCold.DAG)
STORE_OPS = ("ingest", "delete", "compact", "serve")
QUERY_NAMES = AnalysisQueries.QUERIES


def _per_layer() -> dict[str, tuple[str, str]]:
    m: dict[str, tuple[str, str]] = {}
    for stage in TASK_STAGES:
        for key, unit in (
            ("wall_s", "s"), ("jobs", "count"), ("executor_run_s", "s"),
            ("driver_gap_s", "s"), ("output_bytes", "B"), ("shuffle_bytes", "B"),
        ):
            m[f"tasks.{stage}.{key}"] = (unit, "lower")
    m["sources.input_bytes"] = ("B", "lower")
    m["sources.input_records"] = ("count", "lower")
    m["sinks.files_written"] = ("count", "lower")
    m["sinks.output_bytes"] = ("B", "lower")
    for key, unit in (
        ("build_s", "s"), ("build_jobs", "count"), ("action_jobs", "count"),
        ("stages", "count"), ("tasks", "count"), ("executor_run_s", "s"),
        ("executor_cpu_s", "s"), ("driver_gap_s", "s"), ("shuffle_bytes", "B"),
    ):
        m[f"queries.{key}"] = (unit, "lower")
    for name in QUERY_NAMES:
        m[f"queries.{name}.p50_s"] = ("s", "lower")
        m[f"queries.{name}.jobs"] = ("count", "lower")
    for op in STORE_OPS:
        for key, unit in (("wall_s", "s"), ("jobs", "count"), ("driver_gap_s", "s")):
            m[f"store.{op}.{key}"] = (unit, "lower")
    m["store.serve_p50_s"] = ("s", "lower")
    m["store.write_p50_s"] = ("s", "lower")
    m["store.files"] = ("count", "lower")
    m["store.bytes"] = ("B", "lower")
    m["session.start_s"] = ("s", "lower")
    m["session.warmup_s"] = ("s", "lower")
    m["session.persisted_rdds"] = ("count", "lower")
    m["session.storage_memory_bytes"] = ("B", "lower")
    m["session.peak_rss_mb"] = ("MB", "lower")
    m["scratch.bytes"] = ("B", "lower")
    m["spark.failed_tasks"] = ("count", "lower")
    m["pass.wall_s"] = ("s", "lower")
    m["op.p50_s"] = ("s", "lower")
    m["op.samples"] = ("count", "higher")
    m["env.ref_probe_s"] = ("s", "lower")
    m["env.stolen_cpu_per_s"] = ("s/s", "lower")
    m["trace.overhead_s"] = ("s", "lower")
    return m


PER_LAYER = _per_layer()

WRITE_KINDS = ("ingest", "delete", "compact")


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def end_to_end(setup_s: float, passes) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "pass_s": _median(p.ref_s for p in passes),
        "files_written": _median(p.files_written for p in passes),
        "stored_bytes_per_input_byte": _median(
            p.stored_bytes / p.input_bytes for p in passes if p.input_bytes
        ),
    }


def _pass_layers(rec, p) -> dict[str, float]:
    """Per-layer sums for one traced pass."""
    out = dict.fromkeys(PER_LAYER, 0.0)
    totals = {id(op): rec.total(op.span) for op in p.ops}
    for op in p.ops:
        c = totals[id(op)]
        out["sources.input_bytes"] += c["input_bytes"]
        out["sources.input_records"] += c["input_records"]
        out["sinks.output_bytes"] += c["output_bytes"]
        out["spark.failed_tasks"] += c["failed_tasks"]
        gap = rec.driver_gap(op.seconds, c)
        if op.kind == "task":
            pre = f"tasks.{op.name}."
            out[pre + "wall_s"] += op.seconds
            out[pre + "jobs"] += c["jobs"]
            out[pre + "executor_run_s"] += c["executor_run_s"]
            out[pre + "driver_gap_s"] += gap
            out[pre + "output_bytes"] += c["output_bytes"]
            out[pre + "shuffle_bytes"] += c["shuffle_write_bytes"]
        if op.kind in STORE_OPS:
            pre = f"store.{op.kind}."
            out[pre + "wall_s"] += op.seconds
            out[pre + "jobs"] += c["jobs"]
            out[pre + "driver_gap_s"] += gap
        if op.kind in ("query", "serve"):  # both are built, then collected
            build, action = rec.children(op.span)
            out["queries.build_s"] += build.duration
            out["queries.build_jobs"] += build.counters["jobs"]
            out["queries.action_jobs"] += action.counters["jobs"]
            out["queries.stages"] += c["stages"]
            out["queries.tasks"] += c["tasks"]
            out["queries.executor_run_s"] += c["executor_run_s"]
            out["queries.executor_cpu_s"] += c["executor_cpu_s"]
            out["queries.driver_gap_s"] += gap
            out["queries.shuffle_bytes"] += c["shuffle_write_bytes"]
    out["sinks.files_written"] = p.files_written
    out["store.files"] = p.store_files
    out["store.bytes"] = p.stored_bytes if p.store_files else 0
    return out


def per_layer(rec, setup: dict, passes) -> dict[str, float]:
    traced = [p for p in passes if p.traced]
    per_pass = [_pass_layers(rec, p) for p in traced]
    out = {k: _median(d[k] for d in per_pass) for k in PER_LAYER}
    ops = [op for p in traced for op in p.ops]
    for name in QUERY_NAMES:
        mine = [op for op in ops if op.kind == "query" and op.name == name]
        out[f"queries.{name}.p50_s"] = _median(op.seconds for op in mine)
        out[f"queries.{name}.jobs"] = _median(rec.total(op.span)["jobs"] for op in mine)
    out["store.serve_p50_s"] = _median(op.seconds for op in ops if op.kind == "serve")
    out["store.write_p50_s"] = _median(op.seconds for op in ops if op.kind in WRITE_KINDS)
    last = passes[-1].session
    for key in ("persisted_rdds", "storage_memory_bytes", "peak_rss_mb"):
        out[f"session.{key}"] = last[key]
    out["scratch.bytes"] = last["scratch_bytes"]
    out["session.start_s"] = setup["start_s"]
    out["session.warmup_s"] = setup["warmup_s"]
    all_ops = [op for p in passes for op in p.ops]
    out["op.p50_s"] = _median(op.seconds for op in all_ops)
    out["op.samples"] = len(all_ops)
    out["pass.wall_s"] = _median(p.wall for p in passes)
    out["env.ref_probe_s"] = _median(p.probe_s for p in passes)
    out["env.stolen_cpu_per_s"] = _median(p.stolen_s / p.wall for p in passes)
    # traced and untraced passes ran at different moments, under
    # different steal and host speed
    out["trace.overhead_s"] = _median(p.ref_s for p in traced) - _median(
        p.ref_s for p in passes if not p.traced
    )
    return out
