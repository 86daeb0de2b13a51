"""Measure the TRANSITIVE probe-key pruning of ≥2-hop state scans
(streaming/acyclic.py `_probe_pruning` via the accumulated delta-bounded
join) — the round-5 extension of tools/ivm_state_scaling.py, which measured
the one-hop case.

Setup: customer ← orders ← lineitem, delta arrives on CUSTOMER, so lineitem
is TWO tree hops away: the only thing bounding its state read is the probe
keys of the (delta-bounded) Δcustomer ⋈ orders join. Lineitem state is
seeded at 1× / 3× / 10× with cold shifted-key copies (state the delta's
neighbourhood never reaches). For each growth the Δcustomer delta-join term
is built and executed in isolation, reporting the executed scans' walltime,
numFiles and numOutputRows:

- plain lineitem state: the 2-hop scan reads every file at every growth —
  scan rows grow ~10× with state;
- bucketed lineitem (l_orderkey): the accumulated join's order keys prune
  the scan to the delta neighbourhood's bucket partitions + a pushed In
  filter — scan rows stay flat as cold state grows 10×.

Both variants must produce identical maintained results (asserted).

Usage:  python tools/ivm_transitive_scaling.py [sf_dir] [buckets] [delta_keys]
Prints one JSON line with per-growth term seconds/files/rows and 10x/1x
ratios for both variants.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

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
KEY_SHIFT = 50_000_000


def _spec(buckets: int) -> AcyclicQuerySpec:
    li = (
        {"buckets": buckets, "bucket_key": ("l_orderkey",)} if buckets else {}
    )
    return AcyclicQuerySpec(
        relations=(
            RelSpec("customer"),
            RelSpec("orders", join_on=("o_custkey", "c_custkey")),
            RelSpec("lineitem", join_on=("l_orderkey", "o_orderkey"), **li),
        ),
        group_by=("c_mktsegment",),
        measures={"qty": lambda: F.col("l_quantity")},
    )


def _run_term(eng, delta, n_iter: int = 3) -> dict:
    """Build the Δcustomer term (⋈ orders ⋈ lineitem) and execute it in
    isolation: best-of-n walltime + executed scan metrics, AQE-unwrapped
    (same walk as tools/ivm_state_scaling.py).

    Round 6 adds per-term Spark JOB counting (job-group scoped): the
    transitive probe used to eagerly collect from the accumulated join's
    lineage and then re-execute the same lineage inside the term — the
    localCheckpoint fix materializes it once, so the build+collect job count
    drops and ``sec`` (the final collect, which no longer recomputes the
    partial join) shrinks. ``sec_total`` covers build (probe collects +
    checkpoint) AND collect — comparable end-to-end cost."""
    import time as _t

    sc = eng.spark.sparkContext
    versions = {
        "customer": eng._conform("customer", delta),
        "orders": eng._read_state("orders"),
        "lineitem": eng._read_state("lineitem"),
    }
    tree = eng._tree({n: df.columns for n, df in versions.items()})
    best = best_total = float("inf")
    files = rows = jobs = 0
    for it in range(n_iter):
        group = f"term_{id(eng)}_{it}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        t_build = _t.monotonic()
        term = eng._join_chain(versions, eng.spec.relations, "customer", tree, bucket_memo={})
        t0 = _t.monotonic()
        term.collect()
        t1 = _t.monotonic()
        sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        best = min(best, t1 - t0)
        best_total = min(best_total, t1 - t_build)
        acc = {"files": 0, "rows": 0}

        def walk(node):
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
    return {
        "sec": round(best, 3),
        "sec_total": round(best_total, 3),
        "jobs": jobs,
        "files": files,
        "scan_rows": rows,
    }


def run(sf_dir: str, buckets: int, delta_keys: int) -> dict:
    spark = get_spark()
    customer = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", F.lit(1).alias("weight")
    ).localCheckpoint()
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.lit(1).alias("weight")
    ).localCheckpoint()
    lineitem = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", F.lit(1).alias("weight")
    )
    delta = customer.filter(
        F.pmod(F.col("c_custkey"), F.lit(997)) == 1
    ).limit(delta_keys).localCheckpoint()

    out: dict = {
        "metric": "ivm_transitive_2hop_pruning",
        "sf_dir": sf_dir, "buckets": buckets, "delta_keys": delta_keys,
        "growths": list(GROWTHS),
    }
    root = tempfile.mkdtemp(prefix=f"ivm_trans_{os.getpid()}_")
    results: dict = {}
    try:
        for variant, b in (("plain", 0), ("bucketed", buckets)):
            terms = {}
            for g in GROWTHS:
                grown = lineitem
                for c in range(1, g):
                    grown = grown.unionByName(
                        lineitem.withColumn(
                            "l_orderkey", F.col("l_orderkey") + c * KEY_SHIFT
                        )
                    )
                eng = IncrementalAcyclicQuery(
                    spark, os.path.join(root, f"{variant}_{g}"), _spec(b)
                )
                eng.process_batch(
                    {"customer": customer, "orders": orders, "lineitem": grown},
                    batch_id=0,
                )
                terms[str(g)] = _run_term(eng, delta)
                eng.process_batch({"customer": delta}, batch_id=1)
                results[(variant, g)] = {
                    tuple(r) for r in eng.result().collect()
                }
                shutil.rmtree(os.path.join(root, f"{variant}_{g}"))
            out[f"{variant}_term"] = terms
            out[f"{variant}_rows_ratio_10x"] = round(
                terms[str(GROWTHS[-1])]["scan_rows"]
                / max(terms[str(GROWTHS[0])]["scan_rows"], 1),
                2,
            )
        for g in GROWTHS:
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