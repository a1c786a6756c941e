"""Self-tests of the benchmark at a tiny generated scale.

Run from the repository root with ``python -m pytest perfbench/tests -q``
(about eight minutes on 4 cores).  Each benchmark run is a subprocess with
its own Spark driver, because a run sets the JVM's environment before
the session starts; the module shares its runs between the tests.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
#: shrinks every workload's scale factor; testgen's row floors keep all
#: tables non-empty
SCALE = 0.05

sys.path[:0] = [BENCH_DIR, ROOT]

import metrics  # noqa: E402
import run  # noqa: E402

#: (workload, seed, trace, repeat) of every run the tests share
RUNS = (
    ("pipeline_cold", 1, 1, 0), ("pipeline_cold", 1, 1, 1), ("pipeline_cold", 2, 1, 0),
    ("pipeline_cold", 1, 0, 0),
    ("corpus_maintenance", 1, 1, 0), ("corpus_maintenance", 1, 1, 1),
    ("corpus_maintenance", 1, 0, 0),
    ("analysis_queries", 1, 1, 0), ("analysis_queries", 1, 0, 0),
)


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, seed: int, trace: int, repeat: int):
    """One tiny run in a subprocess: (result, spans or None).  The spans
    file is read and removed before the next run writes the same path."""
    code = (
        "import json, run; "
        f"r = run.run_benchmark({workload!r}, {seed}, 1, {bool(trace)}, "
        f"scale={SCALE}); print(json.dumps(r))"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=BENCH_DIR, capture_output=True, text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if not trace:
        return result, None
    path = run.SPANS.format(workload=workload, seed=seed)
    with open(path) as f:
        spans = json.load(f)
    os.remove(path)
    return result, spans


@pytest.fixture(scope="module")
def runs():
    try:
        return {key: _run(*key) for key in RUNS}
    finally:
        try:
            os.rmdir(os.path.dirname(run.SPANS))
        except OSError:  # absent, or holds spans of other runs
            pass


def _traced_pass(spans: dict) -> dict:
    (p,) = [p for p in spans["passes"] if p["traced"]]
    return p


def test_catalogue_matches_benchmark_json():
    bench = _benchmark_json()
    for section, catalogue in (("end_to_end", metrics.END_TO_END), ("per_layer", metrics.PER_LAYER)):
        declared = {m["name"]: (m["unit"], m["better"]) for m in bench[section]}
        assert declared == catalogue
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOAD_NAMES)


def test_every_run_is_correct(runs):
    for key, (result, _) in runs.items():
        assert result["correct"], key
        assert result["failed"] == 0 and result["attempted"] >= 1, key


def test_printed_metrics_have_name_unit_and_workload(runs):
    listed = {w["name"] for w in _benchmark_json()["workloads"]}
    for (workload, _, trace, _), (result, _) in runs.items():
        catalogue = metrics.PER_LAYER if trace else metrics.END_TO_END
        assert set(result["metrics"]) == set(catalogue), workload
        for name, m in result["metrics"].items():
            assert m["unit"] == catalogue[name][0]
            assert isinstance(m["value"], (int, float))
        if not trace and workload in listed:
            # end-to-end metrics are compared as shares of their median
            assert all(m["value"] > 0 for m in result["metrics"].values()), workload


@pytest.mark.parametrize("workload", ["pipeline_cold", "corpus_maintenance"])
def test_same_seed_repeats_counts(runs, workload):
    a = _traced_pass(runs[(workload, 1, 1, 0)][1])
    b = _traced_pass(runs[(workload, 1, 1, 1)][1])
    assert a["ops"] == b["ops"]
    assert a["counts"] == b["counts"]
    assert a["files_written"] == b["files_written"]
    assert a["counts"]["jobs"] > 0 and a["files_written"] > 0


def test_seed_changes_inputs_not_ops(runs):
    one, two = runs[("pipeline_cold", 1, 1, 0)][1], runs[("pipeline_cold", 2, 1, 0)][1]
    assert one["input_digest"] != two["input_digest"]
    assert [p["ops"] for p in one["passes"]] == [p["ops"] for p in two["passes"]]


def test_spans_link_parents_and_carry_counters(runs):
    for workload in run.WORKLOAD_NAMES:
        spans = runs[(workload, 1, 1, 0)][1]["spans"]
        by_id = {s["id"]: s for s in spans}
        roots = [s for s in spans if s["parent"] is None]
        assert roots and all(s["name"].startswith("pass:") for s in roots)
        for s in spans:
            assert s["parent"] is None or s["parent"] in by_id
            # the file rounds times to microseconds
            assert s["end_s"] >= s["start_s"] and s["self_s"] <= s["end_s"] - s["start_s"] + 3e-6
        traced_ops = [s for s in spans if s["counters"] and by_id.get(s["parent"], {}).get("name", "").startswith("pass:")]
        assert traced_ops, workload
        for s in traced_ops:
            kids = [k for k in spans if k["parent"] == s["id"]]
            assert all(k["op"] == s["op"] for k in kids)
            if s["name"].startswith(("query:", "serve:")):
                assert [k["name"] for k in kids] == ["build", "action"]


def test_runs_leave_no_temp_root(runs):
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_tmp"))


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the command exits
    non-zero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pipeline_cold",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180, env=env,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
