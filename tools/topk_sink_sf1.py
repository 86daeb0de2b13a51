"""The full continuous ORDER BY/LIMIT + exactly-once sink stack on REAL
TPC-H data at sf1 — the registered ``incremental_topk_sink_stream`` shape
(plans/ivm_topk_ext.py): the Q10 tree with bucketed state, the spec-level
``TopKSpec`` knob (a TopKView committed inside the engine's manifest), and the per-batch
±changelog appended to a parquet sink, instrumented per micro-batch.

What it ties down that the synthetic tools can't: the cost model on real
value/key distributions at a scale where parquet rowgroup pruning is
visible (sf1 lineitem ≈ 6M rows; the sf0.01 correctness runs are file-size
below pruning granularity). Reported per batch, all row counts
(host-load-independent) plus wall splits:

- input delta rows (the micro-batch's whole multi-relation changelog);
- view changelog rows the engine emitted (touched groups ×2);
- rows the TopKView actually COLLECTED (``applied_rows`` — the driver
  transfer the lexicographic boundary pushdown permits);
- top-k delta rows emitted to the sink (entries/exits only);
- engine fold seconds vs top-k apply+persist seconds.

Exactness: the sink's telescoped net must equal the final maintained
top-20, which must equal a from-scratch ORDER BY over the final view.

Usage:  python tools/topk_sink_sf1.py [sf_dir] [n_chunks]
Prints one JSON line (default sf_dir .scratch/sf1).
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

from flink_and_acyclic_schema_spark.plans.ivm_sink_ext import (  # noqa: E402
    compact_sink,
    write_changelog,
)
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


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO_ROOT, ".scratch/sf1")
    n_chunks = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    spark = get_spark(app_name="topk_sink_sf1", shuffle_partitions=32)
    work = tempfile.mkdtemp(prefix="topk_sink_sf1_")
    gens = _q10_gens()
    delta_dir, schema = generate_delta_chunks(
        spark, sf_dir, f"{work}/deltas", gens, n_chunks=n_chunks
    )
    rel_columns = {g.table: g.columns for g in gens}
    eng = IncrementalAcyclicQuery(spark, f"{work}/state", _q10_topk_spec())
    sink_dir = f"{work}/sink"
    per_batch = []

    def handle(batch, batch_id):
        batch = batch.localCheckpoint()  # count once, fold from memory
        n_in = batch.count()
        t0 = time.perf_counter()
        eng.process_batch(split_deltas(batch, rel_columns), batch_id)
        t1 = time.perf_counter()
        delta = eng.topk_delta()
        n_out = delta.count()
        write_changelog(delta, sink_dir, batch_id)
        t2 = time.perf_counter()
        n_view_delta = (
            spark.read.parquet(eng._emitted["path"]).count()
            if eng._emitted is not None and eng._emitted["batch"] == batch_id
            else None
        )
        per_batch.append(
            {
                "batch": batch_id,
                "input_delta_rows": int(n_in),
                "view_changelog_rows": int(n_view_delta)
                if n_view_delta is not None
                else None,
                "topk_collected_rows": eng._topk.applied_rows,
                "topk_delta_rows_to_sink": int(n_out),
                "engine_and_topk_sec": round(t1 - t0, 2),
                "sink_write_sec": round(t2 - t1, 2),
                "refills_so_far": eng._topk.refills,
            }
        )

    t_all = time.perf_counter()
    run_delta_stream(spark, delta_dir, schema, work, handle)
    wall = time.perf_counter() - t_all

    # exactness, three ways telescoped: sink net == maintained top-20 ==
    # from-scratch ORDER BY over the final maintained view
    cols = ["c_custkey", "c_name", "revenue", "c_acctbal", "n_name"]
    sink_net = {tuple(r) for r in compact_sink(spark, sink_dir).select(*cols).collect()}
    maintained = {tuple(r) for r in eng.topk_result().select(*cols).collect()}
    scratch = {
        tuple(r)
        for r in eng.result()
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select(*cols)
        .collect()
    }
    view_rows = eng.result().count()
    out = {
        "metric": "topk_sink_stack_sf1",
        "sf_dir": sf_dir,
        "n_chunks": n_chunks,
        "k": 20,
        "slack": 10,
        "view_groups_final": int(view_rows),
        "total_input_delta_rows": sum(p["input_delta_rows"] for p in per_batch),
        "total_topk_collected_rows": sum(
            p["topk_collected_rows"] for p in per_batch
        ),
        "total_topk_delta_rows_to_sink": sum(
            p["topk_delta_rows_to_sink"] for p in per_batch
        ),
        "refills": eng._topk.refills,
        "wall_sec": round(wall, 1),
        "sink_net_equals_maintained": sink_net == maintained,
        "maintained_equals_from_scratch": maintained == scratch,
        "per_batch": per_batch,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
