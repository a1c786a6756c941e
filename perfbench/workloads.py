"""The benchmark's workloads.

Each workload is a single-client closed loop: the next operation starts
when the previous one returns.  A *pass* is a fixed sequence of
operations; the measuring loop repeats passes.  Every operation is one
call into a public function of the program, timed by a span, and its
output is checked after the pass, outside every timed span.

- ``pipeline_cold``: the task DAG into an empty store, from an input
  path no in-session cache has seen.
- ``analysis_queries``: read-only registry queries on a warm session.
- ``corpus_maintenance``: dedup fingerprint-store ingest, delete,
  compact and serve calls into an empty store.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import sys
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from columnflow_spark import tasks, testgen
from columnflow_spark.oracle import compare_frames, duckdb_connection
from columnflow_spark.pipeline_demo import PRICE_SCALE
from columnflow_spark.plans.shifts import NOMINAL, Shift
from columnflow_spark.queries import all_oracles, all_queries
from columnflow_spark.queries.dedupstore import (
    compact_dedup_store,
    delete_docs_from_dedup_store,
    flag_batch_against_store,
    upsert_dedup_batch,
)
from columnflow_spark.sources import table_path

import oracles
from spans import Recorder, Span


@dataclass
class Op:
    kind: str  # task | query | serve | ingest | delete | compact
    name: str
    span: Span
    ok: bool = True
    files_written: int = 0

    @property
    def seconds(self) -> float:
        return self.span.duration


def unstolen(wall_s: float, stolen_s: float) -> float:
    """``wall_s`` with the host's CPU steal taken out.

    ``stolen_s`` is the CPU time the hypervisor gave to other guests
    while the VM's CPUs were runnable (the steal column of /proc/stat),
    summed over CPUs, during the ``wall_s`` interval.  A thread on a
    stolen CPU cannot move, and a Spark job waits for its slowest thread,
    so each stolen CPU-second delays the work by about a second: at
    ``r = stolen_s / wall_s`` stolen CPU-seconds per second, the work
    runs ``1 + r`` times slower than on an undisturbed host."""
    return wall_s / (1 + stolen_s / wall_s) if wall_s > 0 else 0.0


#: the reference probe's CPU time (see run.py) on the 4-vCPU host the
#: bounds were set on; timings are reported at that host speed
REF_PROBE_S = 0.08


def at_ref_speed(seconds: float, probe_s: float) -> float:
    """``seconds`` measured while the probe took ``probe_s``, scaled to
    the speed at which it takes ``REF_PROBE_S``."""
    return seconds * REF_PROBE_S / probe_s


@dataclass
class Pass:
    index: int  # negative for warm-up passes
    traced: bool
    span: Span | None = None
    ops: list[Op] = field(default_factory=list)
    stolen_s: float = 0.0  # CPU time stolen from the VM during the pass
    probe_s: float = 0.0  # reference probe around the pass (see run.py)
    files_written: int = 0
    stored_bytes: int = 0
    input_bytes: int = 0
    store_files: int = 0  # files in the dedup store after the pass
    session: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.span.duration

    @property
    def unstolen(self) -> float:
        return unstolen(self.wall, self.stolen_s)

    @property
    def ref_s(self) -> float:
        """Pass time with steal taken out, at the reference host speed."""
        return at_ref_speed(self.unstolen, self.probe_s)


class Bench:
    """What a workload needs from the harness: the session, the span
    recorder, a per-run temp root and the generated inputs."""

    def __init__(self, spark, rec: Recorder, tmp: str, data: str, counts: dict):
        self.spark = spark
        self.rec = rec
        self.tmp = tmp
        self.data = data
        self.counts = counts
        self.current: Pass | None = None
        #: (op, check) pairs of the current pass; a check returns problems
        self.pending: list[tuple[Op, object]] = []

    def op(self, kind: str, name: str, fn, check=None):
        """Run one timed operation; on error print the traceback and count
        the op as failed (the next ops still run)."""
        op_id = self.rec.new_op()
        result, ok = None, True
        with self.rec.span(f"{kind}:{name}", op=op_id) as s:
            try:
                result = fn()
            except Exception:  # noqa: BLE001 - the loop must keep running; the failure is counted
                traceback.print_exc(file=sys.stderr)
                ok = False
        op = Op(kind, name, s, ok)
        self.current.ops.append(op)
        if ok and check is not None:
            self.check(op, lambda: check(result))
        return op, result

    def check(self, op: Op, fn) -> None:
        """Defer ``fn`` (returning a list of problems) until the pass
        has finished; a problem fails ``op``."""
        self.pending.append((op, fn))

    def query(self, kind: str, name: str, build, check=None):
        """A registry query as two spans: ``build`` (the registry call,
        with any eager jobs it runs) and ``action`` (the collect)."""
        def run():
            with self.rec.span("build"):
                df = build()
            with self.rec.span("action"):
                return df.toPandas()

        return self.op(kind, name, run, check)

    def run_checks(self) -> list[str]:
        problems = []
        for op, check in self.pending:
            try:
                found = check()
            except Exception as e:  # noqa: BLE001 - a check that cannot run fails its op
                traceback.print_exc(file=sys.stderr)
                found = [f"check raised {type(e).__name__}: {e}"]
            if found:
                op.ok = False
                problems += [f"{op.kind}:{op.name}: {p}" for p in found]
        self.pending = []
        return problems


def data_files(root: str) -> dict[str, tuple[int, int, int]]:
    """Committed data files under ``root`` (markers, checksums and hidden
    staging entries excluded), keyed by path."""
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        for f in filenames:
            if f.startswith((".", "_")):
                continue
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[p] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def tree_bytes(root: str) -> int:
    total = 0
    for dirpath, _, filenames in os.walk(root):
        for f in filenames:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except FileNotFoundError:  # a file removed while walking
                pass
    return total


def input_digest(sf_dir: str) -> str:
    h = hashlib.sha1()
    for name in sorted(os.listdir(sf_dir)):
        with open(os.path.join(sf_dir, name), "rb") as f:
            h.update(name.encode())
            h.update(f.read())
    return h.hexdigest()[:16]


def registry_check(name: str, oracle_frames: dict, con):
    """Check a collected registry result against its DuckDB oracle; the
    oracle frame is computed once per run, on first use."""
    def check(pdf):
        if name not in oracle_frames:
            oracle_frames[name] = oracles.run_sql(all_oracles()[name], con)
        res = compare_frames(name, pdf, oracle_frames[name])
        return res.issues
    return check


class Workload:
    name = ""
    sf = 0.0
    #: untimed passes before the measured ones; the JVM keeps compiling
    #: hot code for several passes after the first
    warmup_passes = 1
    #: paths the current pass created for itself (removed by cleanup)
    _pass_paths: tuple[str, ...] = ()

    def generate(self, out_dir: str, sf: float, seed: int) -> dict:
        return testgen.generate(out_dir, sf, seed)

    def setup(self, b: Bench) -> None:
        """Work before the warm-up passes (the first of them builds the
        session artifacts and compiles the plans)."""

    def run_pass(self, b: Bench, index: int) -> None:
        raise NotImplementedError

    def summarize(self, b: Bench, p: Pass) -> None:
        """Fill the pass's store and file counts (after its span closed)."""

    def cleanup(self, b: Bench) -> None:
        """Drop the pass's own input copies and stores once checked."""
        for path in self._pass_paths:
            shutil.rmtree(path, ignore_errors=True)


def _tag(index: int) -> str:
    return f"pass{index}" if index >= 0 else f"warmup{-index}"


class PipelineCold(Workload):
    name = "pipeline_cold"
    sf = 0.01
    DAG = (
        tasks.BuildEvents, tasks.CalibrateEvents, tasks.SelectEvents,
        tasks.ReduceEvents, tasks.ProduceColumns, tasks.CreateHistograms,
    )
    #: shift tree -> the calibration scale its twin replays
    TREES = ((NOMINAL, PRICE_SCALE), (Shift("price_up"), 1.05))

    def _fresh_input(self, b: Bench, tag: str) -> str:
        """Hard-linked copy of the generated tables under a path no
        in-session cache has seen, so the pass pays the cold build."""
        d = os.path.join(b.tmp, "inputs", tag)
        os.makedirs(d)
        for f in os.listdir(b.data):
            os.link(os.path.join(b.data, f), os.path.join(d, f))
        return d

    def run_pass(self, b: Bench, index: int) -> None:
        sf_dir = self._fresh_input(b, _tag(index))
        store = os.path.join(b.tmp, "stores", f"pipeline-{_tag(index)}")
        self._pass_paths = (sf_dir, store)
        for shift, scale in self.TREES:
            ctx = tasks.TaskContext(b.spark, sf_dir, store, shift)
            op = None
            for task_cls in self.DAG:
                task = task_cls()
                if task.complete(ctx):  # shared with the nominal tree
                    continue
                op, _ = b.op("task", task.name, lambda t=task, c=ctx: tasks.run_pipeline(t, c))
            b.check(op, self._tree_check(sf_dir, ctx, scale))

    def summarize(self, b: Bench, p: Pass) -> None:
        sf_dir, store = self._pass_paths
        files = data_files(store)
        p.files_written = len(files)
        p.stored_bytes = sum(size for _, _, size in files.values())
        p.input_bytes = sum(
            os.path.getsize(table_path(sf_dir, t)) for t in ("orders", "lineitem")
        )

    @staticmethod
    def _tree_check(sf_dir: str, ctx, scale: float):
        produce = tasks.ProduceColumns().output_path(ctx)
        hist = tasks.CreateHistograms().output_path(ctx)
        return lambda: oracles.check_pipeline_tree(sf_dir, produce, hist, scale)


class AnalysisQueries(Workload):
    name = "analysis_queries"
    sf = 0.05
    QUERIES = (
        "hist_1d_price", "hist_2d_flag_price", "hist_jagged_object_axis",
        "hist_shift_union", "hist_systematic_band", "cutflow_steps",
        "yield_table", "plot_ready_stack", "analysis_template_yields",
        "analysis_template_stack", "selection_stats", "shift_aliased_yield",
        "hist_quantile_binned", "efficiency_curve", "hist_profile_qty_price",
        "category_ids",
    )
    #: the op order is a fixed-seed shuffle per pass: the same for every
    #: workload seed, so a seed changes the inputs and nothing else
    ORDER_SEED = 20_240_101

    def setup(self, b: Bench) -> None:
        self.registry = all_queries()
        self.con = duckdb_connection(b.data)
        self.oracle_frames: dict = {}

    def run_pass(self, b: Bench, index: int) -> None:
        order = list(self.QUERIES)
        random.Random(self.ORDER_SEED + index).shuffle(order)
        for name in order:
            b.query(
                "query", name, lambda n=name: self.registry[n](b.spark, b.data),
                registry_check(name, self.oracle_frames, self.con),
            )


class CorpusMaintenance(Workload):
    name = "corpus_maintenance"
    sf = 0.02
    warmup_passes = 2
    DELETE_MOD, DELETE_REM = 7, 3
    #: share of documents rewritten as near-copies of an earlier document
    DUP_SHARE = 0.25

    def generate(self, out_dir: str, sf: float, seed: int) -> dict:
        """testgen's tables, with a seeded share of documents turned into
        case/whitespace variants of earlier ones: the generator's random
        texts never repeat, and a dedup store that never finds a
        duplicate exercises only half of its flagging path."""
        counts = testgen.generate(out_dir, sf, seed)
        path = table_path(out_dir, "documents")
        docs = pq.read_table(path)
        texts = docs.column("text").to_pylist()
        rng = np.random.default_rng(seed + 1)
        for i in np.flatnonzero(rng.random(len(texts)) < self.DUP_SHARE):
            if i == 0:
                continue
            src = texts[int(rng.integers(0, i))]
            texts[i] = src.upper() if rng.random() < 0.5 else src.replace(" ", "  ", 3)
        docs = docs.set_column(
            docs.schema.get_field_index("text"), "text", pa.array(texts)
        ).set_column(
            docs.schema.get_field_index("n_chars"), "n_chars",
            pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        )
        pq.write_table(docs, path, compression="snappy")
        return counts

    def _write_op(self, b: Bench, kind: str, store: str, fn) -> Op:
        before = data_files(store)
        op, _ = b.op(kind, kind, fn)
        after = data_files(store)
        op.files_written = sum(1 for p, v in after.items() if before.get(p) != v)
        return op

    def run_pass(self, b: Bench, index: int) -> None:
        store = os.path.join(b.tmp, "stores", f"dedup-{_tag(index)}")
        self._pass_paths = (store,)
        spark, data = b.spark, b.data
        cut = b.counts["documents"] // 2  # batch 0 below, batch 1 from here
        first, second = F.col("doc_id") < cut, F.col("doc_id") >= cut
        forget = first & (F.col("doc_id") % self.DELETE_MOD == self.DELETE_REM)
        forgotten = f"doc_id < {cut} AND doc_id % {self.DELETE_MOD} = {self.DELETE_REM}"

        self._write_op(b, "ingest", store, lambda: upsert_dedup_batch(
            spark, data, store, batch=0, batch_pred=first
        ))
        self._write_op(b, "delete", store, lambda: delete_docs_from_dedup_store(
            spark, data, store, delete_pred=forget, batch=2
        ))
        self._write_op(b, "compact", store, lambda: compact_dedup_store(spark, store))
        # serve batch 1 against what survived of batch 0
        want = oracles.dedup_serve_sql(data, f"doc_id < {cut} AND NOT ({forgotten})", f"doc_id >= {cut}")
        b.query(
            "serve", "flag_batch",
            lambda: flag_batch_against_store(spark, data, store, batch_pred=second, max_batch=None),
            lambda pdf: compare_frames("flag_batch", pdf, oracles.run_sql(want)).issues,
        )
        op = self._write_op(b, "ingest", store, lambda: upsert_dedup_batch(
            spark, data, store, batch=1, batch_pred=second
        ))
        # the store after the whole sequence holds every surviving document
        b.check(op, lambda: oracles.check_dedup_store(data, store, f"NOT ({forgotten})"))

    def summarize(self, b: Bench, p: Pass) -> None:
        files = data_files(self._pass_paths[0])
        p.files_written = sum(op.files_written for op in p.ops)
        p.store_files = len(files)
        p.stored_bytes = sum(size for _, _, size in files.values())
        p.input_bytes = os.path.getsize(table_path(b.data, "documents"))


WORKLOADS = {w.name: w for w in (PipelineCold, AnalysisQueries, CorpusMaintenance)}
