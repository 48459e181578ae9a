"""The repository's benchmark: one command per workload run.

    python3 perfbench/run.py --workload events_olap --seed 7 --seconds 5 --trace 0

Generates seeded inputs under ``perfbench/.work``, starts one Spark session
on ``local[k]`` (k = usable cores), and runs the workload in a closed loop
from this driver process for ``--seconds`` seconds. Every output is checked
against the DuckDB oracle; any exception or mismatch fails the run.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics: the traced run measures half its window untraced, then restarts
the Spark context with the event log on and measures the other half, so
``bench.trace_overhead_s`` compares passes of the same warm JVM. The last
line of stdout is one JSON object; the lines before it list every metric
by name and unit. See perfbench/README.md for the definitions.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

# The package is imported first so a checkout without it fails at once.
from fireball_data_processing_spark import queries as catalog  # noqa: E402
from fireball_data_processing_spark.session import get_spark  # noqa: E402
from fireball_data_processing_spark.sources import tables  # noqa: E402

import gen  # noqa: E402
from tracing import (  # noqa: E402
    Tracer,
    assign_spans,
    descendants,
    event_log_file,
    host_steal_s,
    parse_event_log,
    peak_rss_mb,
    progress_listener,
    reap,
    tree_cpu_s,
    union_s,
)

SETUP_REPS = 3
# JIT warm-up: the first pass costs 3-4 times a warm one, and the CPU time
# of the next passes still falls, by a quarter from the second to the
# fourth, so the window starts after two
WARMUP_PASSES = 2

# The module each timed operation exercises; every job an operation runs is
# charged to that module's rollup. Both stream gates index the corpus and
# then drain through the dedup gate, so their index and drain steps are the
# dedup layer's work (a drain's micro-batches also apply the text-quality
# filter and write the sinks; the streaming.* metrics split a drain further).
MODULE = {
    "heuristics_matrix": "plans.heuristics",
    "incremental_heuristics_merge": "plans.incremental",
    "triples_summary": "plans.distill",
    "asof_state_backward": "operators.asof",
    "run_lengths": "operators.runs",
    "history_window_sums": "operators.windows",
    "markov_stationary_profile": "operators.markov",
    "funnel_conversion_steps": "operators.funnel",
    "revenue_by_nation": "queries",
    "exact.index": "operators.dedup",
    "near.index": "operators.dedup",
    "exact.drain": "operators.dedup",
    "near.drain": "operators.dedup",
}
MODULES = tuple(dict.fromkeys(MODULE.values()))
EPOCH_PHASES = ("addBatch", "walCommit", "commitOffsets", "latestOffset", "queryPlanning", "getBatch")
GATE_ORACLE = {"exact": "streaming_ingest_pipeline", "near": "streaming_ingest_near_pipeline"}
# Columns on which Spark and DuckDB round a sixth-decimal rounding tie in
# opposite directions (a known cross-engine defect: 335461.34292 against
# 335461.342921 on generated inputs). Only these may differ, by one unit
# in the sixth decimal; every other cell must be equal.
ROUNDING_TIES = {("heuristics_matrix", "avg_time_between_message_and_command")}


@dataclass(frozen=True)
class Workload:
    tables: tuple[str, ...]
    sf: float
    amplify: int = 1
    queries: tuple[str, ...] = ()
    slices: int = 0  # > 0: the streaming capstone workload


WORKLOADS = {
    "events_olap": Workload(
        tables=("events",) + gen.STAR,
        sf=0.02,
        queries=(
            "heuristics_matrix", "incremental_heuristics_merge", "triples_summary",
            "asof_state_backward", "run_lengths", "history_window_sums",
            "markov_stationary_profile", "funnel_conversion_steps", "revenue_by_nation",
        ),
    ),
    "stream_ingest": Workload(tables=("documents",), sf=0.005, amplify=4, slices=2),
}


class Run:
    """One benchmark run: inputs, session, measured passes, oracle check."""

    def __init__(self, name: str, seed: int):
        self.name, self.w, self.seed = name, WORKLOADS[name], seed
        self.k = len(os.sched_getaffinity(0))
        self.inputs = ""  # set by setup()
        self.want: dict[str, object] = {}  # oracle answers, by query name
        self.spark = None
        self.tracer = Tracer()
        self.listener = None
        self.oracle: subprocess.Popen | None = None
        self.starts: list[float] = []  # session start times, set by setup()
        self.attempted = self.failed = 0
        self.outputs: dict[str, list] = {}  # collected outputs, by query name

    # ------------------------------------------------------------ session

    def start_session(self, event_log: bool = False) -> float:
        if self.spark is not None:
            self.spark.stop()
        conf = {
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # A fixed heap (-Xms = -Xmx): G1 otherwise starts small and grows
            # the heap by its GC time, which host load moves, and every
            # growth step changes the GC CPU time of the passes after it
            # and the peak RSS. A 1 GiB heap holds every workload here.
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK}/tmp -XX:-UsePerfData -Xms1g",
        }
        if event_log:
            os.makedirs(os.path.join(WORK, "eventlog"), exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(WORK, "eventlog"),
                # zstd is the default; the parser reads plain JSON lines
                "spark.eventLog.compress": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.name}",
            master=f"local[{self.k}]",
            shuffle_partitions=2 * self.k,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.w.slices:
            self.listener = progress_listener()
            self.spark.streams.addListener(self.listener)
        return time.perf_counter() - t0

    def close(self) -> None:
        """Stop everything this run started, on every path out of it: the
        oracle process, Spark, the gateway JVM and the Python workers the
        JVM forked. Returns once each of them has ended."""
        from pyspark import SparkContext

        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # a second one must not cut this short
        if self.oracle is not None and self.oracle.poll() is None:
            self.oracle.kill()
        procs = descendants(os.getpid())  # before the JVM's children lose their parent
        gateway = SparkContext._gateway
        if gateway is not None:
            try:
                if self.spark is not None:
                    self.spark.stop()
                gateway.shutdown()  # closes py4j connections and the listener's callback server
            except Exception as exc:  # noqa: BLE001 - the JVM is stopped below either way
                print(f"WARNING stopping Spark: {exc}".splitlines()[0], file=sys.stderr)
            gateway.proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        reap(procs)

    # -------------------------------------------------------------- passes

    def op(self, name: str, fn):
        """Run one operation; an exception counts as a failed operation."""
        self.attempted += 1
        try:
            with self.tracer.span(name):
                return fn()
        except Exception as exc:  # noqa: BLE001 - every failure is counted
            self.failed += 1
            print(f"FAILED {name}: {type(exc).__name__}: {exc}".splitlines()[0], file=sys.stderr)
            return None

    def batch_pass(self, collect: bool) -> None:
        for name in self.w.queries:
            self.spark.catalog.clearCache()

            def call(name=name):
                with self.tracer.span("build"):
                    df = catalog.REGISTRY[name].fn(self.spark, self.inputs)
                with self.tracer.span("exec"):
                    if collect:
                        return df.toPandas()
                    df.write.format("noop").mode("overwrite").save()

            out = self.op(name, call)
            if collect and out is not None:
                self.outputs.setdefault(name, []).append(out)

    def stream_pass(self) -> None:
        from fireball_data_processing_spark.operators.dedup import minhash_signature
        from fireball_data_processing_spark.streaming.capstone import (
            read_pipeline_totals,
            run_ingest_pipeline,
            stage_incoming_slices,
        )
        from fireball_data_processing_spark.streaming.dedup_stream import (
            corpus_band_index,
            corpus_hash_index,
        )
        from pyspark.sql import functions as F

        ws = os.path.join(WORK, "stream")
        shutil.rmtree(ws, ignore_errors=True)
        docs = tables.load_table(self.spark, self.inputs, "documents")
        side = F.pmod(F.col("doc_id"), F.lit(4))
        corpus, incoming = docs.filter(side == 0), docs.filter(side != 0)
        staging = f"{ws}/staging"
        self.op("stage", lambda: stage_incoming_slices(incoming, staging, self.w.slices))
        indexes = {
            "exact": lambda: corpus_hash_index(corpus),
            "near": lambda: corpus_band_index(minhash_signature(corpus), num_hashes=8, band_size=2),
        }
        for gate, build in indexes.items():
            index = self.op(f"{gate}.index", lambda b=build: b().localCheckpoint())
            if index is None:
                continue
            floor = self.spark.sparkContext.defaultParallelism if gate == "near" else None
            self.op(f"{gate}.drain", lambda g=gate, i=index, p=floor: run_ingest_pipeline(
                self.spark, staging, incoming.schema, i, f"{ws}/{g}/out",
                f"{ws}/{g}/ckpt", gate=g, min_parallelism=p))
            rows = self.op(f"{gate}.totals", lambda g=gate: read_pipeline_totals(
                self.spark, f"{ws}/{g}/out").toPandas())
            if rows is not None:  # every pass's totals are checked
                self.outputs.setdefault(GATE_ORACLE[gate], []).append(rows)

    def one_pass(self, collect: bool = False) -> dict:
        cpu0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
        n_progress = len(self.listener.progress) if self.listener else 0
        n_done = self.listener.terminated() if self.listener else 0
        with self.tracer.span("pass") as s:
            if self.w.slices:
                self.stream_pass()
            else:
                self.batch_pass(collect)
        if self.listener:
            self.listener.wait_terminated(n_done + len(GATE_ORACLE))
        s.attrs["cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
        progress = self.listener.progress[n_progress:] if self.listener else []
        # the gates run one after the other, so their queries report in order
        gates = dict(zip(dict.fromkeys(e["id"] for e in progress), GATE_ORACLE))
        for e in progress:
            e["gate"] = gates[e["id"]]
        return {
            "span": s,
            "wall": time.perf_counter() - t0,
            "cpu": s.attrs["cpu_s"],
            "progress": progress,
        }

    def window(self, seconds: float) -> list[dict]:
        """Closed loop: start another pass while the window is open."""
        passes, t0 = [], time.perf_counter()
        while not passes or time.perf_counter() - t0 < seconds:
            passes.append(self.one_pass())
        return passes

    # --------------------------------------------------------------- setup

    def setup(self) -> float:
        """Input generation and session start, ``SETUP_REPS`` times (the
        median counts), then ``WARMUP_PASSES`` warm-up passes; the first
        one's outputs are the ones checked against the oracle.

        The first repetition also launches the JVM, so the median leaves
        that one-time cost out. The oracle runs on the first repetition's
        inputs, in its own process, while that JVM starts. Later
        repetitions regenerate the same bytes into their own directories,
        and the last one is used."""
        reps, starts = [], self.starts
        answers = os.path.join(WORK, "oracle.pkl")
        for i in range(SETUP_REPS):
            t0 = time.perf_counter()
            inputs = os.path.join(WORK, f"inputs{i}")
            gen.generate(inputs, self.seed, self.w.tables, self.w.sf, self.w.amplify)
            if i == 0:  # a separate process, so DuckDB's memory stays out of peak_rss_mb
                self.oracle = subprocess.Popen(
                    [sys.executable, os.path.join(HERE, "oracle.py"), self.name, inputs, answers],
                    stdout=subprocess.DEVNULL)
            starts.append(self.start_session())
            reps.append(time.perf_counter() - t0)
            if i == 0:
                if self.oracle.wait() != 0:
                    raise RuntimeError(f"the oracle exited with code {self.oracle.returncode}")
                with open(answers, "rb") as f:
                    self.want = pickle.load(f)
        self.inputs = inputs
        warm = [self.one_pass(collect=i == 0)["wall"] for i in range(WARMUP_PASSES)]
        return statistics.median(reps) + sum(warm)

    # -------------------------------------------------------------- oracle

    def check(self) -> None:
        """Compare every checked output with its oracle answer. An expected
        output that never arrived counts as a failure too."""
        for name, want in self.want.items():
            for got in self.outputs.get(name, [None]):
                self.attempted += 1
                if got is None or not same_rows(got, want, name):
                    self.failed += 1
                    print(f"MISMATCH {name}", file=sys.stderr)


def same_rows(got, want, name: str) -> bool:
    """The driver-contract comparison: row count, column names, and every
    cell after sorting columns and rows, NaN equal to NaN. Cells must be
    equal, except in the ``ROUNDING_TIES`` columns of query ``name``."""
    if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
        return False
    cols = sorted(got.columns)
    g = got[cols].sort_values(by=cols, ignore_index=True)
    w = want[cols].sort_values(by=cols, ignore_index=True)
    for c in cols:
        tie = (name, c) in ROUNDING_TIES
        for a, b in zip(g[c].tolist(), w[c].tolist()):
            if isinstance(a, float) and isinstance(b, float):
                if (math.isnan(a) and math.isnan(b)) or (tie and abs(a - b) < 1.5e-6):
                    continue
            if a != b:
                return False
    return True


# -------------------------------------------------------------- metrics


def end_to_end(run: Run, setup_s: float, passes: list[dict]) -> tuple[dict, dict]:
    """The user-visible metrics of the measured window, and the printed
    figures that are not in ``BENCHMARK.json``: the wall times, whose
    spread over runs on a shared host is wider than any bound a metric may
    have there (see README.md), and what only one workload has.

    Every operation (a query, or a stream step or epoch) is timed in each
    pass, and its median over the passes counts. ``pass_s`` is the sum of
    those medians.
    ``op_geomean_s`` is their geometric mean over the queries (batch) or
    the micro-batch epochs of both gates (stream): a median would jump
    between queries of very different cost, and would fall between the two
    gates' epoch clusters."""
    ops: dict[str, list[float]] = {}
    for p in passes:
        for s in run.tracer.spans:
            if s.parent == p["span"].sid:
                ops.setdefault(s.name, []).append(s.dur)
    op_med = {name: statistics.median(d) for name, d in ops.items()}
    extra = {}
    if run.w.slices:
        epochs: dict[tuple, list] = {}
        for p in passes:
            for e in p["progress"]:
                if e["rows"] > 0:
                    epochs.setdefault((e["gate"], e["batch"]), []).append(e)
        op_s = [statistics.median(e["duration_ms"]["triggerExecution"] / 1000 for e in es)
                for es in epochs.values()]
        docs = sum(es[0]["rows"] for es in epochs.values())
        extra["ingest_docs_per_s"] = (
            docs / (op_med["exact.drain"] + op_med["near.drain"]), "1/s")
    else:
        op_s = list(op_med.values())
    extra["pass_s"] = (sum(op_med.values()), "s")
    extra["op_geomean_s"] = (statistics.geometric_mean(op_s), "s")
    jvm = run.spark.sparkContext._gateway.proc.pid
    metrics = {
        "setup_s": (setup_s, "s"),
        "pass_cpu_s": (statistics.median(p["cpu"] for p in passes), "s"),
        "peak_rss_mb": (peak_rss_mb([os.getpid(), jvm]), "MB"),
    }
    return metrics, extra


def per_layer(run: Run, untraced: list[dict], traced: list[dict], jobs, load_s) -> dict:
    spans = {s.sid: s for s in run.tracer.spans}

    def top(sid):  # (pass span id, op span id) above a span
        chain = []
        while sid is not None:
            chain.append(sid)
            sid = spans[sid].parent
        return chain[-1], (chain[-2] if len(chain) > 1 else None)

    n = len(traced)
    pass_ids = {p["span"].sid for p in traced}
    mine = [j for j in jobs if j.span is not None and top(j.span)[0] in pass_ids]
    exec_s = union_s((j.submit, j.end) for j in mine) / n
    wall = sum(p["wall"] for p in traced) / n
    m = {
        "session.start_s": (statistics.median(run.starts), "s"),
        "sources.load_s": (load_s / n, "s"),
        "sources.input_bytes": (sum(j.input_bytes for j in mine) / n, "bytes"),
        "sources.input_rows": (sum(j.input_rows for j in mine) / n, "count"),
        "queries.build_s": (sum(s.dur for s in spans.values()
                                if s.name == "build" and top(s.sid)[0] in pass_ids) / n, "s"),
        "queries.build_jobs": (sum(spans[j.span].name == "build" for j in mine) / n, "count"),
        "spark.exec_s": (exec_s, "s"),
        "spark.jobs": (len(mine) / n, "count"),
        "spark.stages": (sum(j.stages for j in mine) / n, "count"),
        "spark.tasks": (sum(j.tasks for j in mine) / n, "count"),
        "spark.executor_run_s": (sum(j.run_s for j in mine) / n, "s"),
        "spark.executor_cpu_s": (sum(j.cpu_s for j in mine) / n, "s"),
        "spark.shuffle_write_bytes": (sum(j.shuffle_write for j in mine) / n, "bytes"),
        "spark.shuffle_read_bytes": (sum(j.shuffle_read for j in mine) / n, "bytes"),
        "spark.spill_bytes": (sum(j.spill for j in mine) / n, "bytes"),
        "spark.driver_gap_s": (wall - exec_s, "s"),
    }
    def module(job):
        op = top(job.span)[1]
        return MODULE.get(spans[op].name) if op else None

    for mod in MODULES:
        js = [j for j in mine if module(j) == mod]
        m[f"{mod}.exec_s"] = (union_s((j.submit, j.end) for j in js) / n, "s")
        m[f"{mod}.jobs"] = (len(js) / n, "count")
        m[f"{mod}.executor_cpu_s"] = (sum(j.cpu_s for j in js) / n, "s")
        m[f"{mod}.shuffle_write_bytes"] = (sum(j.shuffle_write for j in js) / n, "bytes")

    def op_s(suffix):
        return sum(s.dur for s in spans.values()
                   if s.name.endswith(suffix) and top(s.sid)[0] in pass_ids) / n

    epochs = [e for p in traced for e in p["progress"] if e["rows"] > 0]
    m["streaming.capstone.stage_s"] = (op_s("stage"), "s")
    m["streaming.capstone.stage_tasks"] = (
        sum(j.tasks for j in mine if spans[j.span].name == "stage") / n, "count")
    m["streaming.dedup_stream.index_s"] = (op_s(".index"), "s")
    m["streaming.capstone.totals_s"] = (op_s(".totals"), "s")
    m["streaming.capstone.epochs"] = (len(epochs) / n, "count")
    for phase in EPOCH_PHASES:
        vals = [e["duration_ms"].get(phase, 0) / 1000 for e in epochs]
        m[f"streaming.capstone.epoch.{phase}_s"] = (statistics.fmean(vals) if vals else 0.0, "s")
    m["bench.trace_overhead_s"] = (
        statistics.median(p["wall"] for p in traced)
        - statistics.median(p["wall"] for p in untraced), "s")
    return m


def timed_load_table(acc: list[float]):
    """Wrap ``load_table`` everywhere the package bound it by name."""
    orig = tables.load_table

    def wrapper(*a, **kw):
        t0 = time.perf_counter()
        try:
            return orig(*a, **kw)
        finally:
            acc[0] += time.perf_counter() - t0

    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("fireball_data_processing_spark") \
                and getattr(mod, "load_table", None) is orig:
            mod.load_table = wrapper


# ------------------------------------------------------------------ main


def measure(run: Run, seconds: float, trace: int) -> tuple[dict, dict]:
    """Set up, then measure the window: untraced, or (``trace``) half
    untraced and half with the event log on."""
    setup_s = run.setup()
    if not trace:
        return end_to_end(run, setup_s, run.window(seconds))
    untraced = run.window(seconds / 2)
    load_s = [0.0]
    timed_load_table(load_s)
    run.start_session(event_log=True)
    app_id = run.spark.sparkContext.applicationId
    run.tracer.sc = run.spark.sparkContext
    traced = run.window(seconds / 2)
    run.tracer.sc = None
    run.spark.stop()  # flushes and closes the event log
    jobs = parse_event_log(event_log_file(os.path.join(WORK, "eventlog"), app_id))
    unmatched = assign_spans(jobs, run.tracer.spans)
    if unmatched:
        print(f"WARNING {unmatched} jobs matched no span", file=sys.stderr)
    return per_layer(run, untraced, traced, jobs, load_s[0]), {}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    # Spark scratch and temp files stay inside the checkout
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # SIGTERM unwinds like an exception, so the run still stops what it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    load_before, steal_before = os.getloadavg(), host_steal_s()
    run = Run(args.workload, args.seed)
    try:
        metrics, extra = measure(run, args.seconds, args.trace)
        run.check()
    finally:
        run.close()
    run.tracer.dump(os.path.join(WORK, "spans.json"))
    load_after, steal = os.getloadavg(), host_steal_s() - steal_before

    print(f"# workload={args.workload} seed={args.seed} nproc={os.cpu_count()} "
          f"k={run.k} loadavg_before={load_before[0]:.2f} loadavg_after={load_after[0]:.2f} "
          f"host_steal_s={steal:.1f} session_starts_s={','.join(f'{x:.2f}' for x in run.starts)}")
    print(f"# error_rate={run.failed / max(run.attempted, 1):.4f} "
          f"({run.failed} failed of {run.attempted} operations)")
    for name, (value, unit) in extra.items():
        print(f"# {name} {value:.6g} {unit}")
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
