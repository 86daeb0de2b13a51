"""The benchmark's workloads and the metrics each run reports.

Every workload runs in one process on ``local[4]`` with default engine
settings and drives the engine only through its public entry points. The
inputs are generated from ``--seed`` before set-up and are excluded from
every timing.

Timed sections. q10_trickle is a closed loop with one client, the
Structured Streaming driver under ``availableNow`` with one chunk file per
micro-batch: the bootstrap batch, then a window of ``--seconds`` in which a
trickle batch starts only while it would end inside the window (at least
``MIN_TRICKLE`` batches).
headline_batch times one pass over the 23 queries; the pass is as long as
the queries take (35-55 s on 4 cores), not ``--seconds``, because a second,
warm pass does not fit the suite's time budget.

End-to-end metrics (``--trace 0``), one name per quantity, with the op each
workload counts. Times are CPU seconds (``trace.CpuClock``: user + system
time of this process and of the Spark JVM, JIT compilation included), not
wall seconds: on a 4-core guest of a shared machine the wall time of the
same run moved by 1.5x from run to run, the CPU time by a tenth to a sixth.
The wall times are reported with the per-layer metrics (``wall.*``).

- ``setup_s``: median CPU seconds of ``SETUPS`` set-ups, each ``get_spark``
  + engine construction (or ``optimize_layout``) + reading the input's
  schema, up to the first timed op. The first set-up also launches the JVM.
- ``bootstrap_cpu_s``: CPU seconds of the first op on a JVM that has run
  none yet, the cost of the first complete result. q10_trickle: the
  bootstrap micro-batch (the whole base). headline_batch: the first query
  (``q10_flagship``).
- ``op_cpu_s``: median CPU seconds of one op in the timed section.
  q10_trickle: a trickle micro-batch, handler entry to the return of its last
  engine call. headline_batch: one query, call to collected result.
- ``jobs_per_op``: Spark jobs per op, counted from outside: the benchmark
  sets its own job group around each op (restoring the stream's group
  afterwards, as the engine's ``_phase`` does); the engine's commit and top-k
  pools inherit it through ``inheritable_thread_target``, and jobs of other
  threads (the stream's own commit) are not counted. q10_trickle: median
  over the trickle batches in the window. headline_batch: total over the
  pass / 23.
- ``stored_bytes``: bytes on disk the engine keeps for the workload after
  the last op. q10_trickle: everything under the engine's state dir (state,
  top-k, emitted changelog). headline_batch: the ``optimize_layout`` output.

Wall times (per-layer, ``--trace 1``): ``wall.setup_s``,
``wall.bootstrap_s`` and ``wall.op_p50_s``, the wall seconds of the set-ups
and ops above (for a trickle batch, the freshness delay once a change's
batch starts), and ``wall.ops_per_s``, ops completed per wall second of the
timed section, gaps included. q10_trickle: trickle batches over the drain,
from the end of the bootstrap batch to the end of the last batch in the
window, which includes the stream's own commit/planning gaps.
headline_batch: queries over the pass.

Failures are not a metric: the result line's ``attempted`` counts ops and
``failed`` the ops that raised; an oracle mismatch of the final result fails
every op and sets ``correct`` false.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

from . import gen, oracle, trace

SETUPS = 3
CORES = 4
# q10_trickle runs the full sf0.01 base: the trickle batch cost is
# per-job scheduling, not data (sf0.1 was measured at 5.5 s and 37 jobs per
# trickle batch against 3.7 s and 31 jobs here), and sf0.01 leaves room for
# enough trickle batches per run
STREAM_SF = 0.01
HEADLINE_SF = 0.01
# the trickle window holds at least this many batches, however long they take
MIN_TRICKLE = 3


@dataclass
class Run:
    workload: str
    seed: int
    seconds: int
    traced: bool
    work: str  # per-run work dir, emptied before the run
    tracer: trace.Tracer = field(default_factory=trace.Tracer)
    metrics: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    correct: bool = True

    @property
    def event_dir(self) -> str:
        return os.path.join(self.work, "eventlog")

    def spark(self):
        from flink_and_acyclic_schema_spark.session import get_spark

        extra = trace.event_log_conf(self.event_dir) if self.traced else None
        with self.tracer.span("session.get_spark", "get_spark"):
            spark = get_spark(app_name=f"ivmbench-{self.workload}", extra_conf=extra)
        # local mode: driver and executors share this one JVM
        self.tracer.cpu.watch(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        return spark

    def setup(self, build):
        """``SETUPS`` fresh sessions, each followed by ``build(spark)``;
        returns the last session and build result, records ``setup_s``."""
        spark, built = None, None
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            with self.tracer.span("setup", "setup"):
                spark = self.spark()
                built = build(spark)
        setups = self.tracer.of_kind("setup")
        self.metrics["setup_s"] = statistics.median(s["cpu_s"] for s in setups)
        self.layers["wall.setup_s"] = statistics.median(s["s"] for s in setups)
        gets = self.tracer.of_kind("get_spark")
        self.layers["session.get_spark_s"] = statistics.median(s["s"] for s in gets)
        self.layers["session.jvm_launch_s"] = gets[0]["s"]
        return spark, built


class JobGroup:
    """Scope the calling thread's Spark jobs in a fresh job group and count
    them on exit; restores the thread's previous group, description and
    interrupt flag (Structured Streaming owns them inside foreachBatch)."""

    _PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    _seq = 0

    def __init__(self, sc, label: str):
        JobGroup._seq += 1
        self.sc, self.gid, self.label, self.jobs = sc, f"ivmbench-{JobGroup._seq}", label, 0

    def __enter__(self):
        self.prev = [self.sc.getLocalProperty(p) for p in self._PROPS]
        self.sc.setJobGroup(self.gid, f"ivmbench {self.label}")
        return self

    def __exit__(self, *exc):
        for p, v in zip(self._PROPS, self.prev):
            self.sc.setLocalProperty(p, v)
        self.jobs = len(self.sc.statusTracker().getJobIdsForGroup(self.gid))
        return False


class Window:
    """The timed section: ``seconds`` long, opened by ``open()``. Another op
    starts only while it would, at the pace of the slowest op so far, end
    inside the window, and always until ``MIN_TRICKLE`` ops have run."""

    def __init__(self, seconds: float):
        self.seconds, self.end, self.ops, self.slowest = seconds, None, 0, 0.0

    def open(self) -> None:
        self.end = time.perf_counter() + self.seconds

    def done(self, op_s: float) -> None:
        self.ops += 1
        self.slowest = max(self.slowest, op_s)

    def has_room(self) -> bool:
        return self.ops < MIN_TRICKLE or time.perf_counter() + self.slowest <= self.end


def dir_bytes(path: str) -> int:
    """Bytes of the regular files under ``path`` (symlinks not followed)."""
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


# --- streaming -----------------------------------------------------------


def _leaderboard_down_spec():
    from pyspark.sql import functions as F

    from flink_and_acyclic_schema_spark.streaming.acyclic import AcyclicQuerySpec, RelSpec, TopKSpec

    # the downstream half of incremental_topk_chain_depth4_stream: per-nation
    # membership and revenue over the grouped top-3, then a global top-5
    return AcyclicQuerySpec(
        relations=(RelSpec("top3"),),
        group_by=("n_name",),
        measures={"members": lambda: F.lit(1), "top_revenue": lambda: F.col("revenue")},
        finalize=lambda df: df.select(
            "n_name",
            F.col("members").cast("bigint").alias("members"),
            F.col("top_revenue").cast("double").alias("top_revenue"),
        ),
        top_k=TopKSpec(k=5, order_by="top_revenue", key=("n_name",), slack=5),
    )


def _engines(spark, chain: str, state_root: str, traced: bool) -> list:
    from flink_and_acyclic_schema_spark.plans.ivm_topk_ext import (
        _nation_leaderboard_spec,
        _q10_topk_spec,
    )
    from flink_and_acyclic_schema_spark.streaming.acyclic import IncrementalAcyclicQuery

    specs = {
        "q10": [_q10_topk_spec()],
        "leaderboard": [_nation_leaderboard_spec(), _leaderboard_down_spec()],
    }[chain]
    engines = []
    for i, spec in enumerate(specs):
        eng = IncrementalAcyclicQuery(spark, os.path.join(state_root, f"engine{i}"), spec)
        eng.instrument = traced
        view = getattr(eng, "_topk", None)  # counters only; no public accessor
        if hasattr(view, "instrument"):
            view.instrument = traced
        engines.append(eng)
    return engines


def run_stream(run: Run, chain: str) -> None:
    from flink_and_acyclic_schema_spark.streaming.delta_transport import (
        run_delta_stream,
        split_deltas,
    )

    chunk_dir = os.path.join(run.work, "chunks")
    state_root = os.path.join(run.work, "state")
    # one chunk per second of the window leaves headroom: a trickle batch
    # costs seconds, so the window ends long before the chunks run out
    n_trickle = max(run.seconds, MIN_TRICKLE) + 10
    with run.tracer.span("inputs", "inputs"):
        _, rel_columns, rows = gen.write_chunks(chain, run.seed, STREAM_SF, n_trickle, chunk_dir)

    def build(spark):
        engines = _engines(spark, chain, state_root, run.traced)
        return engines, spark.read.parquet(gen.chunk_path(chunk_dir, 0)).schema

    spark, (engines, schema) = run.setup(build)
    sc = spark.sparkContext
    tr = run.tracer
    applied: list[int] = []
    window = Window(run.seconds)
    stopping = threading.Event()

    def stop_stream():
        for q in spark.streams.active:
            q.stop()

    def handle(batch, batch_id: int) -> None:
        if stopping.is_set():
            return
        if batch_id > 0 and not window.has_room():
            stopping.set()
            threading.Thread(target=stop_stream, daemon=True).start()
            return
        kind = "bootstrap" if batch_id == 0 else "steady"
        with tr.span(f"batch{batch_id}", kind, rows=rows[batch_id]) as b, JobGroup(sc, kind) as g:
            run.attempted += 1
            try:
                _apply(engines, tr, split_deltas(batch, rel_columns), batch_id)
            except Exception:
                run.failed += 1
                traceback.print_exc()
            b["profile"] = [
                {
                    "phases": dict(e.last_profile),
                    "checkpoints": e.last_checkpoints,
                    "factored": e.last_factored,
                    "topk": _view_counters(e),
                }
                for e in engines
            ]
        b["jobs"] = g.jobs
        applied.append(batch_id)
        if kind == "steady":
            window.done(b["s"])
        else:
            window.open()

    run_delta_stream(spark, chunk_dir, schema, run.work, handle)
    if applied != list(range(len(applied))):
        raise RuntimeError(f"chunks applied out of order: {applied}")

    with tr.span("acyclic.result", "result"):
        got = engines[-1].topk_result().toPandas()
    run.metrics["stored_bytes"] = dir_bytes(state_root)
    if run.traced:
        _stream_layers(run, state_root)
    with tr.span("spark.stop", "stop"):
        spark.stop()
    if run.traced:
        _spark_layers(run)

    with tr.span("oracle", "oracle"):
        con = oracle.net_multiset(chunk_dir, len(applied), rel_columns)
        sql = {"q10": oracle.Q10_TOP20, "leaderboard": oracle.LEADERBOARD_TOP5}[chain]
        _check(run, "final top-k", got, con.execute(sql).fetch_df())

    steady = tr.of_kind("steady")
    boot = tr.of_kind("bootstrap")[0]
    print("batch wall/cpu/jit (s):", [(round(b["s"], 2), round(b["cpu_s"], 2), round(b["jit_s"], 2))
                                      for b in tr.spans if b["name"].startswith("batch")], file=sys.stderr)
    if not steady:
        raise RuntimeError("no trickle batch ran inside the window")
    drain = steady[-1]["end_ms"] / 1000 - boot["end_ms"] / 1000
    run.metrics["jobs_per_op"] = statistics.median(s["jobs"] for s in steady)
    _op_metrics(run, boot, steady, len(steady) / drain)
    run.layers["delta_transport.batches"] = len(steady)
    run.layers["delta_transport.drain_s"] = drain
    run.layers["delta_transport.gap_s"] = drain - sum(s["s"] for s in steady)
    run.layers["delta_transport.gap_share"] = run.layers["delta_transport.gap_s"] / drain
    run.layers["delta_transport.delta_rows_per_s"] = sum(s["rows"] for s in steady) / drain


def _apply(engines: list, tr: trace.Tracer, deltas: dict, batch_id: int) -> None:
    """One micro-batch through the chain: the upstream engine, then (for a
    chain) its top-k changelog handed to the downstream engine."""
    with tr.span("acyclic.up", "up"):
        engines[0].process_batch(deltas, batch_id)
    if len(engines) > 1:
        with tr.span("topk.handoff", "handoff"):
            changes = engines[0].topk_delta()
        with tr.span("acyclic.down", "down"):
            engines[1].process_batch({"top3": changes}, batch_id)


def _view_counters(engine) -> dict:
    view = getattr(engine, "_topk", None)
    if view is None:
        return {}
    return {
        "refills": getattr(view, "refills", 0),
        "read_rows": getattr(view, "last_read_rows", getattr(view, "applied_rows", 0)),
    }


PHASES = (
    "term_build", "join_fold", "touched", "agg_write", "emit_pre", "emitted_write",
    "emit_post", "topk", "state_write.lineitem", "state_write.orders",
    "state_write.customer", "state_write.nation", "state_write.top3",
)
STATE_PARTS = ("lineitem", "orders", "customer", "nation", "top3", "agg", "emitted", "topk")


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _stream_layers(run: Run, state_root: str) -> None:
    """Per-layer engine metrics from the spans and the engines' own
    ``instrument=True`` phase records, as means per trickle batch (means,
    so the phases and the unattributed rest add up to the batch wall)."""
    tr, L = run.tracer, run.layers
    steady = tr.of_kind("steady")
    for part, kind in (("up", "up"), ("down", "down")):
        spans = [s for b in steady for s in trace.subtree(tr.spans, b) if s["kind"] == kind]
        L[f"acyclic.{part}.batch_s"] = _mean(s["s"] for s in spans)
    L["topk.handoff_s"] = _mean(
        s["s"] for b in steady for s in trace.subtree(tr.spans, b) if s["kind"] == "handoff"
    )
    phase_s = {p: [] for p in (*PHASES, "other")}
    phase_jobs = {p: [] for p in (*PHASES, "other")}
    unattributed = []
    for b in steady:
        sec = {p: 0.0 for p in phase_s}
        jobs = {p: 0 for p in phase_s}
        for prof in b["profile"]:
            for name, rec in prof["phases"].items():
                p = name.replace(":", ".")
                p = p if p in sec else "other"
                sec[p] += rec["sec"]
                jobs[p] += rec["jobs"]
        for p in phase_s:
            phase_s[p].append(sec[p])
            phase_jobs[p].append(jobs[p])
        engine_s = sum(s["s"] for s in trace.subtree(tr.spans, b) if s["kind"] in ("up", "down"))
        unattributed.append(engine_s - sum(sec.values()))
    for p in phase_s:
        L[f"acyclic.phase.{p}.s"] = _mean(phase_s[p])
        L[f"acyclic.phase.{p}.jobs"] = _mean(phase_jobs[p])
    L["acyclic.phase.unattributed_s"] = _mean(unattributed)
    L["acyclic.checkpoints_per_batch"] = _mean(sum(p["checkpoints"] for p in b["profile"]) for b in steady)
    L["acyclic.factored_per_batch"] = _mean(sum(p["factored"] for p in b["profile"]) for b in steady)
    L["topk.read_rows"] = _mean(
        sum(p["topk"].get("read_rows", 0) for p in b["profile"]) for b in steady
    )
    refills = lambda b: sum(p["topk"].get("refills", 0) for p in b["profile"])  # noqa: E731
    L["topk.refills"] = refills(steady[-1]) - refills(tr.of_kind("bootstrap")[0])
    L["acyclic.result_s"] = tr.of_kind("result")[0]["s"]
    sizes = dict.fromkeys(STATE_PARTS, 0)
    for eng in sorted(os.listdir(state_root)):
        for entry in os.listdir(os.path.join(state_root, eng)):
            part = entry.split("_")[0]
            if part in sizes:
                sizes[part] += dir_bytes(os.path.join(state_root, eng, entry))
    for part, n in sizes.items():
        L[f"acyclic.state_bytes.{part}"] = n


def _spark_layers(run: Run) -> None:
    """Event-log metrics of the bootstrap and steady ops (after
    ``spark.stop()``, when the log is complete)."""
    tr = run.tracer
    by_span = trace.attribute(tr.spans, trace.read_jobs(run.event_dir))
    for kind in ("bootstrap", "steady"):
        ops = tr.of_kind(kind)
        jobs = [j for op in ops for s in trace.subtree(tr.spans, op) for j in by_span.get(s["id"], [])]
        wall = sum(op["s"] for op in ops)
        L = run.layers
        for key in ("tasks", "task_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
            L[f"spark.{kind}.{key}"] = sum(j[key] for j in jobs)
        L[f"spark.{kind}.jobs"] = len(jobs)
        L[f"spark.{kind}.busy_share"] = L[f"spark.{kind}.task_s"] / (CORES * wall) if wall else 0.0
    for part in ("up", "down"):
        per_batch = []
        for op in tr.of_kind("steady"):
            spans = [s for s in trace.subtree(tr.spans, op) if s["kind"] == part]
            per_batch.append(sum(len(by_span.get(x["id"], [])) for s in spans for x in trace.subtree(tr.spans, s)))
        run.layers[f"acyclic.{part}.jobs_per_batch"] = _mean(per_batch)


def _op_metrics(run: Run, first: dict, ops: list[dict], ops_per_s: float) -> None:
    """The time metrics of a workload's first op and its timed ops, end to
    end in CPU seconds and per layer in wall seconds."""
    run.metrics["bootstrap_cpu_s"] = first["cpu_s"]
    run.metrics["op_cpu_s"] = statistics.median(op["cpu_s"] for op in ops)
    run.layers["wall.bootstrap_s"] = first["s"]
    run.layers["wall.op_p50_s"] = statistics.median(op["s"] for op in ops)
    run.layers["wall.ops_per_s"] = ops_per_s
    run.layers["jvm.jit_share"] = sum(op["jit_s"] for op in ops) / sum(op["cpu_s"] for op in ops)


def _check(run: Run, what: str, got, want) -> None:
    why = oracle.mismatch(got, want)
    if why is not None:
        run.correct = False
        print(f"oracle mismatch in {what}: {why}", file=sys.stderr)


# --- batch -----------------------------------------------------------------


def run_headline(run: Run) -> None:
    from bench import HEADLINE
    from flink_and_acyclic_schema_spark.caching import release_persisted
    from flink_and_acyclic_schema_spark.registry import ORACLES, QUERIES
    from flink_and_acyclic_schema_spark.sources.layout import optimize_layout

    src = os.path.join(run.work, "tables")
    with run.tracer.span("inputs", "inputs"):
        tables = gen.base_tables(run.seed, HEADLINE_SF)
        gen.write_tables(tables, src)
    layout_dir = os.path.join(run.work, "layout")

    def build(spark):
        shutil.rmtree(layout_dir, ignore_errors=True)
        with run.tracer.span("layout.optimize_layout", "layout"):
            return optimize_layout(spark, src, layout_dir)

    spark, sf_dir = run.setup(build)
    sc = spark.sparkContext
    tr = run.tracer
    results = {}
    # the timed pass: each query from call to its result collected on the
    # driver, on a JVM that has run no query yet
    with tr.span("pass", "bootstrap"):
        for name in HEADLINE:
            with tr.span(name, "steady") as q, JobGroup(sc, name) as g:
                run.attempted += 1
                try:
                    results[name] = QUERIES[name](spark, sf_dir).toPandas()
                except Exception:
                    run.failed += 1
                    traceback.print_exc()
            q["jobs"] = g.jobs
            release_persisted()
    run.metrics["stored_bytes"] = dir_bytes(layout_dir)
    with tr.span("spark.stop", "stop"):
        spark.stop()
    if run.traced:
        _spark_layers(run)

    with tr.span("oracle", "oracle"):
        con = oracle.table_views(src, tables)
        for name, got in results.items():
            if name in ORACLES:
                _check(run, name, got, con.execute(ORACLES[name]).fetch_df())

    queries = tr.of_kind("steady")
    run.metrics["jobs_per_op"] = sum(q["jobs"] for q in queries) / len(queries)
    _op_metrics(run, queries[0], queries, len(queries) / tr.of_kind("bootstrap")[0]["s"])
    run.layers["layout.optimize_s"] = statistics.median(s["s"] for s in tr.of_kind("layout"))
    for q in queries:
        run.layers[f"plans.{q['name']}.s"] = q["s"]
        run.layers[f"plans.{q['name']}.jobs"] = q["jobs"]


@dataclass(frozen=True)
class Workload:
    why: str
    run: object


WORKLOADS = {
    # the paper's query; the why strings are also BENCHMARK.json's
    "q10_trickle": Workload(
        "the paper's Q10 top-20 over a bucketed sf0.01 state, each trickle batch retracting and "
        "re-inserting ~0.5% of orders: term build, state commits and per-job overhead dominate",
        lambda run: run_stream(run, "q10"),
    ),
    "headline_batch": Workload(
        "bench.py's 23 headline queries at sf0.01 over the optimize_layout output, one cold "
        "pass: bypasses the streaming engine, so engine changes should not move it",
        run_headline,
    ),
    # not in BENCHMARK.json: at 20 s bootstrap and 5-10 s per trickle batch
    # (59 jobs) its runs do not fit the suite's time budget next to the other
    # two; kept runnable by hand for grouped top-k and chain-handoff work
    "leaderboard_depth4": Workload(
        "incremental_topk_chain_depth4_stream's wiring: grouped top-3 changelog handed "
        "through topk_delta() to a downstream engine with a global top-5, under "
        "leader-skewed churn: GroupedTopKView and the chain handoff dominate",
        lambda run: run_stream(run, "leaderboard"),
    ),
}


def execute(workload: str, seed: int, seconds: int, traced: bool, work: str) -> dict:
    run = Run(workload, seed, seconds, traced, work)
    WORKLOADS[workload].run(run)
    top = [s for s in run.tracer.spans if s["parent"] is None]
    print("top-level spans wall/cpu (s):", [(s["name"], round(s["s"], 2), round(s["cpu_s"], 2)) for s in top],
          file=sys.stderr)
    if run.traced:
        run.tracer.write(os.path.join(work, "spans.jsonl"))
    if not run.correct:
        run.failed = run.attempted
    return {
        "correct": run.correct and run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": run.metrics,
        "layers": run.layers,
    }


def main(argv: list[str]) -> None:
    workload, seed, seconds, traced, work, out = argv
    res = execute(workload, int(seed), int(seconds), traced == "1", work)
    with open(out, "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    main(sys.argv[1:])
