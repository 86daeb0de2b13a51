"""Measure per-batch IVM cost as STATE grows with the delta held FIXED — the
complement of tools/ivm_batch_scaling.py (which grows ingested volume) and
the direct check of the engine's O(Δ ⋈ touched-state) claim
(streaming/acyclic.py docstring).

Setup: orders is the tree root and the only delta source after batch 0;
lineitem is the probed child relation, seeded once at 1× / 3× / 10× the base
size (growth rows carry shifted order keys, i.e. COLD state the fixed delta
never probes — exactly what a 100 TB steady-state looks like: a huge state
with a key-bounded batch). Each measured batch inserts the SAME number of
duplicate orders (8 keys), so the only thing that varies across runs is
state size. Log-structured mode keeps every state COMMIT O(Δ); what's being
measured is the delta-join term's STATE READ:

- plain state: the term scans the full lineitem state per batch — per-batch
  cost grows with state size (the round-4 gap, VERDICT r4 'What's wrong' #1);
- bucketed state (RelSpec.buckets=256 on l_orderkey): the 8-key delta probes
  ≤8 of 256 partition directories, so the scan prunes to the delta's bucket
  ids and per-batch cost stays flat as cold state grows 10×.

Both variants must produce identical maintained results (asserted).

Two layers of evidence, because local[32] hides IO inside fixed overhead:

- per-BATCH walltime (mean over the measured batches, first skipped as JIT
  warmup): the end-to-end number — at local scale both variants sit on the
  ~0.9 s/batch scheduling floor, so "flat" here is necessary but weak;
- per-TERM cost: the delta-join term (Δorders ⋈ lineitem_state) built and
  executed in isolation, reporting walltime AND the executed scan's
  ``numFiles`` metric. This is the component the 100 TB claim is about:
  plain state reads EVERY file at every growth (IO grows 10× with state),
  bucketed reads only the delta's ≤delta_keys bucket partitions — flat in
  state size. Files-read cannot be faked by scheduling noise.

Usage:  python tools/ivm_state_scaling.py [sf_dir] [buckets] [delta_keys]
Prints one JSON line with per-growth batch seconds, term seconds/files,
and 10x/1x ratios.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from pyspark.sql import functions as F  # noqa: E402

from flink_and_acyclic_schema_spark.session import get_spark  # noqa: E402
from flink_and_acyclic_schema_spark.streaming.acyclic import (  # noqa: E402
    AcyclicQuerySpec,
    IncrementalAcyclicQuery,
    RelSpec,
)
from flink_and_acyclic_schema_spark.tables import load  # noqa: E402

GROWTHS = (1, 3, 10)
N_MEASURE = 6
KEY_SHIFT = 50_000_000  # cold-copy order keys land far outside the base range


def _run_term(eng, delta, n_iter: int = 3) -> dict:
    """Build ONE delta-join term (the Δorders probe into lineitem state) and
    execute it in isolation: best-of-n walltime + the executed scans'
    numFiles / numOutputRows metrics (post partition pruning). collect() is
    safe — the term output is delta-bounded (Δ's join fan-out), which is the
    whole point. The metrics come from the SAME QueryExecution that ran
    (count() would compile a separate plan and leave these at zero)."""
    import time as _t

    versions = {
        "orders": eng._conform("orders", delta),
        "lineitem": eng._read_state("lineitem"),
    }
    tree = eng._tree({n: df.columns for n, df in versions.items()})
    best = float("inf")
    files = rows = 0
    for _ in range(n_iter):
        term = eng._join_chain(versions, eng.spec.relations, "orders", tree, bucket_memo={})
        t0 = _t.monotonic()
        term.collect()
        best = min(best, _t.monotonic() - t0)
        acc = {"files": 0, "rows": 0}

        def walk(node):
            # AQE hides scans behind AdaptiveSparkPlanExec / QueryStageExec
            # leaf wrappers — descend into their materialized subplans
            name = node.getClass().getSimpleName()
            try:
                mm = node.metrics()
                if mm.contains("numFiles"):
                    acc["files"] += mm.apply("numFiles").value()
                    acc["rows"] += mm.apply("numOutputRows").value()
            except Exception:
                pass
            if name.startswith("AdaptiveSparkPlan"):
                walk(node.executedPlan())
                return
            if "QueryStage" in name:
                walk(node.plan())
                return
            ch = node.children()
            for i in range(ch.size()):
                walk(ch.apply(i))

        walk(term._jdf.queryExecution().executedPlan())
        files, rows = acc["files"], acc["rows"]
    return {"sec": round(best, 3), "files": files, "scan_rows": rows}


def _spec(buckets: int) -> AcyclicQuerySpec:
    li = (
        {"buckets": buckets, "bucket_key": ("l_orderkey",)} if buckets else {}
    )
    return AcyclicQuerySpec(
        relations=(
            RelSpec("orders"),
            RelSpec("lineitem", join_on=("l_orderkey", "o_orderkey"), **li),
        ),
        group_by=("o_orderpriority",),
        measures={"qty": lambda: F.col("l_quantity")},
    )


def run(sf_dir: str, buckets: int, delta_keys: int) -> dict:
    spark = get_spark()
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", F.lit(1).alias("weight")
    )
    lineitem = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", F.lit(1).alias("weight")
    )
    base_orders = orders.localCheckpoint()
    # fixed measured deltas: N_MEASURE disjoint slices of `delta_keys` orders
    # whose lineitems EXIST in the warm part of state, every growth run alike
    deltas = [
        base_orders.filter(
            F.pmod(F.col("o_orderkey"), F.lit(997)) == i
        ).limit(delta_keys).localCheckpoint()
        for i in range(N_MEASURE)
    ]

    out: dict = {
        "sf_dir": sf_dir, "buckets": buckets, "delta_keys": delta_keys,
        "n_measure": N_MEASURE, "growths": list(GROWTHS),
    }
    root = tempfile.mkdtemp(prefix=f"ivm_state_{os.getpid()}_")
    results: dict = {}
    try:
        for variant, b in (("plain", 0), ("bucketed", buckets)):
            means = {}
            for g in GROWTHS:
                grown = lineitem
                for c in range(1, g):
                    grown = grown.unionByName(
                        lineitem.withColumn(
                            "l_orderkey", F.col("l_orderkey") + c * KEY_SHIFT
                        )
                    )
                eng = IncrementalAcyclicQuery(
                    spark,
                    os.path.join(root, f"{variant}_{g}"),
                    _spec(b),
                    compact_every=N_MEASURE + 2,  # log-structured: O(Δ) commits
                )
                eng.process_batch(
                    {"orders": base_orders, "lineitem": grown}, batch_id=0
                )
                times = []
                for i, d in enumerate(deltas):
                    t0 = time.monotonic()
                    eng.process_batch({"orders": d}, batch_id=i + 1)
                    times.append(time.monotonic() - t0)
                means[g] = round(sum(times[1:]) / len(times[1:]), 3)
                out.setdefault(f"{variant}_term", {})[str(g)] = _run_term(
                    eng, deltas[0]
                )
                results[(variant, g)] = {
                    tuple(r) for r in eng.result().collect()
                }
                shutil.rmtree(os.path.join(root, f"{variant}_{g}"))
            out[variant] = {str(g): means[g] for g in GROWTHS}
            out[f"{variant}_ratio_10x"] = round(
                means[GROWTHS[-1]] / means[GROWTHS[0]], 2
            )
            t = out[f"{variant}_term"]
            out[f"{variant}_term_ratio_10x"] = round(
                t[str(GROWTHS[-1])]["sec"] / max(t[str(GROWTHS[0])]["sec"], 1e-9), 2
            )
        for g in GROWTHS:  # same maintained result, bucketed or not
            assert results[("plain", g)] == results[("bucketed", g)], g
        out["variants_agree"] = True
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()
    return out


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    buckets = int(sys.argv[2]) if len(sys.argv) > 2 else 256
    delta_keys = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    print(json.dumps(run(sf, buckets, delta_keys)))
