"""Measure per-batch IVM cost as state grows: merge-and-rewrite vs
log-structured (streaming/acyclic.py's commit rule at compact_every=1 and
at a compact_every larger than the stream).

Setup isolates state IO from join work: orders is the tree ROOT (its state is
never on the probe side of any delta-join term) and customer arrives once in
batch 0, so after batch 0 every batch's JOIN work is exactly O(Δ) in both
regimes — Δorders ⋈ customer_state with a static, dimension-sized state. The
only component that scales with accumulated state is the state COMMIT:

- merge mode (compact_every=1): read + net-merge + rewrite the full orders
  state every batch — per-batch cost grows linearly with total ingested rows;
- log mode (compact_every > n_batches): the first batch nets its delta into
  the first state version, like merge mode (there is no state to append
  to); every later batch appends the delta as one more version — per-batch
  cost stays flat (the O(Δ) IVM promise at 100 TB).

The aggregate state is group-count-sized (constant) in both regimes.

Usage:  python tools/ivm_batch_scaling.py [n_batches] [sf_dir]
Prints one JSON line: per-batch seconds for both regimes + fitted slopes
(least-squares sec-per-batch-index; flat ≈ 0).
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


def slope(ys: list[float]) -> float:
    """Least-squares slope of ys over batch index 1..n (batch 0 excluded by
    the caller: it carries one-time schema/dim-state setup)."""
    n = len(ys)
    xs = list(range(n))
    mx, my = sum(xs) / n, sum(ys) / n
    denom = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom if denom else 0.0


def run(n_batches: int, sf_dir: str) -> dict:
    spark = get_spark()
    spec = AcyclicQuerySpec(
        relations=(
            RelSpec("orders"),
            RelSpec("customer", join_on=("c_custkey", "o_custkey")),
        ),
        group_by=("c_mktsegment",),
        measures={"n_orders": lambda: F.lit(1)},
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.lit(1).alias("weight")
    )
    customer = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", F.lit(1).alias("weight")
    )
    # deterministic equal-size delta slices by key hash
    slices = [
        orders.filter(F.pmod(F.col("o_orderkey"), F.lit(n_batches)) == i)
        .localCheckpoint()
        for i in range(n_batches)
    ]
    customer = customer.localCheckpoint()

    out: dict = {"n_batches": n_batches, "sf_dir": sf_dir}
    root = tempfile.mkdtemp(prefix=f"ivm_scaling_{os.getpid()}_")
    try:
        for regime, k in (("merge", 1), ("log", n_batches + 1)):
            eng = IncrementalAcyclicQuery(
                spark, os.path.join(root, regime), spec, compact_every=k
            )
            times = []
            for i, d in enumerate(slices):
                deltas = {"orders": d}
                if i == 0:
                    deltas["customer"] = customer
                t0 = time.monotonic()
                eng.process_batch(deltas, batch_id=i)
                times.append(round(time.monotonic() - t0, 3))
            # both regimes must agree with the one-shot recompute
            check = {
                r["c_mktsegment"]: r["n_orders"] for r in eng.result().collect()
            }
            out.setdefault("result_check", []).append(check)
            out[f"{regime}_sec"] = times
            out[f"{regime}_slope_sec_per_batch"] = round(slope(times[1:]), 4)
        a, b = out.pop("result_check")
        assert a == b, f"regimes disagree: {a} != {b}"
        out["regimes_agree"] = True
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()
    return out


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 12
    sf = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    print(json.dumps(run(n, sf)))
