#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload pipeline_cold --seed 1 --seconds 9 --trace 0

Generates the workload's inputs from ``--seed``, starts one Spark driver
on ``local[<cores>]``, sets up and runs the workload's warm-up passes,
then repeats whole passes of the workload until the measured time, at
the reference host speed, reaches ``--seconds`` (at least two passes).  Outputs are checked after each pass.
Progress goes to stderr; the last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

Everything the run writes (inputs, stores, Spark local and checkpoint
dirs, temp files) lives under ``.perfbench_tmp/`` in the checkout and is
removed on exit.  A traced run also writes its spans to ``SPANS`` and
prints that path to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import shutil
import statistics
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("pipeline_cold", "analysis_queries", "corpus_maintenance")
#: where a traced run writes its spans (replaced by the next traced run
#: of the same workload and seed)
SPANS = os.path.join(ROOT, ".perfbench_out", "spans-{workload}-seed{seed}.json")
CORES = len(os.sched_getaffinity(0))


def _isolate(tmp: str) -> dict[str, str]:
    """Point every writer of the program and of Spark under ``tmp``, and
    let Python workers import the package from any cwd.  Must run before
    the session starts: the JVM and its workers inherit this environment."""
    dirs = {k: os.path.join(tmp, k) for k in (
        "artifacts", "checkpoints", "local", "tmp", "warehouse", "data", "inputs", "stores",
    )}
    for d in dirs.values():
        os.makedirs(d)
    java_opts = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    os.environ.update(
        SPARK_GRAFT_SCRATCH=dirs["artifacts"],
        SPARK_GRAFT_CHECKPOINT_DIR=dirs["checkpoints"],
        SPARK_LOCAL_DIRS=dirs["local"],
        TMPDIR=dirs["tmp"],
        SPARK_GRAFT_CPUS=str(CORES),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS=" ".join([
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={dirs['warehouse']}"),
            "--driver-java-options", shlex.quote(java_opts),
            "pyspark-shell",
        ]),
    )
    tempfile.tempdir = None  # re-read TMPDIR
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return dirs


def _peak_rss_mb(spark) -> float:
    """Peak resident memory of the Python driver plus the JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024


def _session_stats(spark, dirs: dict) -> dict:
    from workloads import tree_bytes

    jsc = spark.sparkContext._jsc
    return {
        "persisted_rdds": len(jsc.getPersistentRDDs()),
        "storage_memory_bytes": sum(i.memSize() for i in jsc.sc().getRDDStorageInfo()),
        "peak_rss_mb": _peak_rss_mb(spark),
        "scratch_bytes": sum(tree_bytes(dirs[k]) for k in ("artifacts", "checkpoints", "local")),
    }


def _stolen_s() -> float:
    """CPU time taken from this VM's CPUs by the hypervisor so far, summed
    over CPUs (the steal column of /proc/stat); 0 where not reported."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def _probe_round(data) -> float:
    keys, table, idx = data
    cpu = time.thread_time()
    np.sort(keys)
    table.take(idx).sum()
    return time.thread_time() - cpu


def _ref_probe() -> float:
    """Reference probe that runs none of the program and no Spark: on one
    driver thread per core (numpy releases the GIL), sort 2M integers and
    gather 2M random entries of a 64 MB table.  Returns the CPU time of
    one thread's round, averaged over the threads, median of 7 rounds.
    CPU time leaves out steal (taken out of pass time separately) but
    grows when the host runs the VM's CPUs slower, e.g. beside busy
    hyperthread siblings or with memory bandwidth shared with other
    guests; that speed drifted by 1.5x within an hour."""
    rng = np.random.default_rng(0)
    data = (
        rng.integers(0, 1 << 40, 1 << 21), rng.random(1 << 23), rng.integers(0, 1 << 23, 1 << 21)
    )
    with ThreadPoolExecutor(CORES) as pool:
        return statistics.median(
            statistics.fmean(pool.map(_probe_round, [data] * CORES)) for _ in range(7)
        )


def _run_pass(b, wl, index: int, traced: bool, dirs: dict):
    from workloads import Pass

    b.rec.traced = traced
    b.current = Pass(index, traced)
    stolen = _stolen_s()
    with b.rec.span(f"pass:{index}") as span:
        wl.run_pass(b, index)
    b.current.stolen_s = _stolen_s() - stolen
    b.current.span = span
    wl.summarize(b, b.current)
    b.current.session = _session_stats(b.spark, dirs)
    problems = b.run_checks()
    wl.cleanup(b)
    for p in problems:
        print(f"[perfbench] CHECK FAILED pass {index}: {p}", file=sys.stderr)
    print(
        f"[perfbench] pass {index}{' traced' if traced else ''}: {span.duration:.3f} s "
        f"({b.current.unstolen:.3f} s without steal), {len(b.current.ops)} ops, "
        f"{sum(not op.ok for op in b.current.ops)} failed; "
        + " ".join(f"{op.name}={op.seconds:.3f}" for op in b.current.ops),
        file=sys.stderr, flush=True,
    )
    return b.current, problems


def _pass_record(rec, p) -> dict:
    counts = dict.fromkeys(("jobs", "stages", "tasks", "output_records"), 0)
    if p.traced:
        for op in p.ops:
            total = rec.total(op.span)
            for k in counts:
                counts[k] += total[k]
    return {
        "index": p.index, "traced": p.traced,
        "wall_s": p.wall, "stolen_s": p.stolen_s, "probe_s": p.probe_s,
        "ops": [f"{op.kind}:{op.name}" for op in p.ops],
        "failed_ops": sum(not op.ok for op in p.ops),
        "files_written": p.files_written, "counts": counts, "session": p.session,
    }


def run_benchmark(
    workload: str, seed: int, seconds: float, trace: bool, *, scale: float = 1.0
) -> dict:
    """One benchmark run; returns the result object.  ``scale`` shrinks
    the inputs (the self-tests run at a tiny scale)."""
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    spark = None
    try:
        dirs = _isolate(tmp)
        import metrics
        from spans import Recorder
        from workloads import WORKLOADS, Bench, at_ref_speed, input_digest, unstolen

        from columnflow_spark.session import get_spark

        wl = WORKLOADS[workload]()
        counts = wl.generate(dirs["data"], wl.sf * scale, seed)

        stolen = _stolen_s()
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - t0
        b = Bench(spark, Recorder(spark, traced=False), tmp, dirs["data"], counts)
        t1 = time.perf_counter()
        wl.setup(b)
        warm = [_run_pass(b, wl, i, False, dirs) for i in range(-wl.warmup_passes, 0)]
        warm_failed = any(problems or not all(op.ok for op in p.ops) for p, problems in warm)
        # workload set-up and the warm-up passes, not their checks
        warmup_s = warm[0][0].span.start - t1 + sum(p.wall for p, _ in warm)
        setup = {"start_s": start_s, "warmup_s": warmup_s}
        # the steal rate over set-up, checks included, applied to its time
        steal_rate = (_stolen_s() - stolen) / (time.perf_counter() - t0)
        probe = _ref_probe()
        setup_s = at_ref_speed(
            unstolen(start_s + warmup_s, steal_rate * (start_s + warmup_s)), probe
        )

        passes, measured = [], 0.0
        while True:
            p, _ = _run_pass(b, wl, len(passes), trace and len(passes) % 2 == 1, dirs)
            after = _ref_probe()
            p.probe_s = (probe + after) / 2  # the host's speed around the pass
            probe = after
            print(f"[perfbench] pass {p.index}: probe {p.probe_s:.4f} s, "
                  f"{p.ref_s:.3f} s at reference speed", file=sys.stderr)
            passes.append(p)
            # counted at the reference speed, so that how many passes a
            # run measures does not follow the host's speed
            measured += p.ref_s
            if measured >= seconds and len(passes) >= 2:
                break

        ops = [op for p in passes for op in p.ops]
        failed = sum(not op.ok for op in ops)
        if trace:
            values = metrics.per_layer(b.rec, setup, passes)
            catalogue = metrics.PER_LAYER
            out = SPANS.format(workload=workload, seed=seed)
            os.makedirs(os.path.dirname(out), exist_ok=True)
            with open(out, "w") as f:
                json.dump({
                    "workload": workload, "seed": seed, "sf": wl.sf * scale,
                    "cores": b.rec.cores, "input_digest": input_digest(dirs["data"]),
                    "input_rows": counts, "setup": setup,
                    "passes": [_pass_record(b.rec, p) for p in passes],
                    "spans": b.rec.spans_json(),
                }, f)
            print(f"[perfbench] spans written to {out}", file=sys.stderr)
        else:
            values = metrics.end_to_end(setup_s, passes)
            catalogue = metrics.END_TO_END
        return {
            "correct": failed == 0 and not warm_failed,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": values[k], "unit": catalogue[k][0]} for k in catalogue},
        }
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:  # another run still uses it
            pass


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    result = run_benchmark(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
