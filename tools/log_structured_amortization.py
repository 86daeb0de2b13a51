"""Measure the log-structured state regime's AMORTIZATION claim (round 10).

Round 9's fold profile showed compact_every=3 a WASH against merge-mode over
4 batches, with the note "the win amortizes over long streams" — plausible
(O(Δ) appends vs O(state) rewrites) but unmeasured. This runs the SAME stack
(the full Q10 tree + spec-level durable top-20, tools/ivm_fold_profile.py's
shape) over a LONG stream — default 16 micro-batches — once per regime:

- merge-mode  (compact_every=1): every batch pays one fused full-state
  shuffle per changed bucketed relation;
- log-structured (compact_every=K): the first batch nets, the next K-1
  append O(Δ) versions, and every K-th batch pays the netting rewrite —
  one write per state, the same net merge mode pays every batch.

Records per-batch engine seconds + profiled jobs and the CUMULATIVE series
for both, plus the exactness guard (maintained top-20 == from-scratch ORDER
BY over the final view) for each regime — both runs must be exact for the
comparison to count. Committed as LOG_STRUCTURED_AMORTIZATION.json; the
regime the data supports becomes the documented long-stream default.

Round 11 added a third run, ``compact_every="auto"`` (merge for the first
8 committed batches, then log-structured K=3). The committed JSON keeps its
record (141.2 s against 127.0 s for plain K=3 over 16 sf1 batches); the
mode is gone from the engine, so the tool runs the two pure regimes.

Usage: python tools/log_structured_amortization.py [sf_dir] [n_chunks] [K]
(defaults: .scratch/sf1, 16, 3). One JSON line to stdout.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from pyspark.sql import functions as F  # noqa: E402

from flink_and_acyclic_schema_spark.plans.ivm_topk_ext import (  # noqa: E402
    _q10_gens,
    _q10_topk_spec,
)
from flink_and_acyclic_schema_spark.session import get_spark  # noqa: E402
from flink_and_acyclic_schema_spark.streaming.acyclic import (  # noqa: E402
    IncrementalAcyclicQuery,
)
from flink_and_acyclic_schema_spark.streaming.delta_transport import (  # noqa: E402
    generate_delta_chunks,
    run_delta_stream,
    split_deltas,
)


def run_regime(spark, delta_dir, schema, rel_columns, compact_every) -> dict:
    work = tempfile.mkdtemp(prefix=f"ls_amort_k{compact_every}_")
    eng = IncrementalAcyclicQuery(
        spark, f"{work}/state", _q10_topk_spec(), compact_every=compact_every
    )
    eng.instrument = True
    per_batch: list[dict] = []

    def handle(batch, batch_id):
        batch = batch.localCheckpoint()
        n_in = batch.count()
        t0 = time.perf_counter()
        eng.process_batch(split_deltas(batch, rel_columns), batch_id)
        sec = time.perf_counter() - t0
        per_batch.append(
            {
                "batch": batch_id,
                "input_delta_rows": int(n_in),
                "engine_sec": round(sec, 2),
                "profiled_jobs": sum(
                    v["jobs"] for v in eng.last_profile.values()
                ),
                "regime": eng.compact_every,
            }
        )

    t_all = time.perf_counter()
    run_delta_stream(spark, delta_dir, schema, work, handle)
    wall = time.perf_counter() - t_all

    cols = ["c_custkey", "c_name", "revenue", "c_acctbal", "n_name"]
    maintained = {tuple(r) for r in eng.topk_result().select(*cols).collect()}
    scratch = {
        tuple(r)
        for r in eng.result()
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select(*cols)
        .collect()
    }
    cum_sec = cum_jobs = 0.0
    cum_series = []
    for b in per_batch:
        cum_sec += b["engine_sec"]
        cum_jobs += b["profiled_jobs"]
        cum_series.append(round(cum_sec, 2))
    return {
        "compact_every": compact_every,
        "wall_sec": round(wall, 2),
        "exact": maintained == scratch,
        "topk_rows": len(maintained),
        "per_batch": per_batch,
        "cumulative_engine_sec": cum_series,
        "total_engine_sec": round(cum_sec, 2),
        "total_profiled_jobs": int(cum_jobs),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO_ROOT, ".scratch/sf1")
    n_chunks = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    spark = get_spark(app_name="log_structured_amortization", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="ls_amort_deltas_")
    gens = _q10_gens()
    delta_dir, schema = generate_delta_chunks(
        spark, sf_dir, f"{work}/deltas", gens, n_chunks=n_chunks
    )
    rel_columns = {g.table: g.columns for g in gens}
    try:
        la0 = os.getloadavg()[0]
    except OSError:
        la0 = None
    merge = run_regime(spark, delta_dir, schema, rel_columns, 1)
    log_structured = run_regime(spark, delta_dir, schema, rel_columns, k)
    out = {
        "tool": "log_structured_amortization (round 10)",
        "question": "does the log-structured O(Δ)-append regime beat "
        "merge-and-rewrite cumulatively over a LONG stream (the round-9 "
        "4-batch wash said 'the win amortizes' — unproven until now)",
        "stack": "incremental_topk_sink_stream shape (full Q10 tree, "
        "16-bucket lineitem/orders/customer state, durable top-20)",
        "sf_dir": sf_dir,
        "n_chunks": n_chunks,
        "loadavg_at_start": la0,
        "host_caveat": "walltimes drift on this container (13.6-39 s "
        "documented); both regimes ran back-to-back on one host, and "
        "profiled JOBS per batch are the host-independent signal",
        "merge_mode": merge,
        "log_structured": log_structured,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
