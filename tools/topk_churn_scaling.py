"""Measure the CONTINUOUS TOP-K cost model (streaming/topk.py TopKView) —
the claim that per-batch driver transfer tracks TOP-REGION churn, not view
size or batch size, and that full-state refills amortize over ≥ slack
top-region deletions.

Setup: a 1-relation IVM view with G groups (group g's total ≈ its rank, so
the top-k is groups G-1 .. G-k), k = 20, slack = 20. Each batch:

- BULK churn: ``bulk`` low-ranked groups get a ±1 update — touched groups
  whose changelog rows are ranked far below the buffer boundary, so the
  TopKView's Spark-side restriction must filter them before the collect;
- TOP churn: the CURRENT top member is deleted outright — the retraction
  path that promotes #21 from slack, and every ``slack`` deletions force
  exactly one TakeOrderedAndProject refill.

Reported per batch: changelog rows emitted by the engine (touched groups
×2) vs rows the TopKView actually collected (``applied_rows``); plus total
refills vs top deletions (expect ≈ deletions/slack + 1) and a final
exactness check against a from-scratch rank of the view.

Usage:  python tools/topk_churn_scaling.py [groups] [batches] [bulk]
Prints one JSON line.
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

from flink_and_acyclic_schema_spark.session import get_spark  # noqa: E402
from flink_and_acyclic_schema_spark.streaming.acyclic import (  # noqa: E402
    AcyclicQuerySpec,
    IncrementalAcyclicQuery,
    RelSpec,
)
from flink_and_acyclic_schema_spark.streaming.topk import TopKView  # noqa: E402

SCHEMA = "kid long, v long, weight int"
K, SLACK = 20, 20


def main() -> None:
    groups = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    batches = int(sys.argv[2]) if len(sys.argv) > 2 else 50
    bulk = int(sys.argv[3]) if len(sys.argv) > 3 else 2_000
    spark = get_spark(app_name="topk_churn_scaling", shuffle_partitions=16)
    spec = AcyclicQuerySpec(
        relations=(RelSpec("items"),),
        group_by=("kid",),
        measures={"total": lambda: F.col("v")},
    )
    work = tempfile.mkdtemp(prefix="topk_churn_")
    eng = IncrementalAcyclicQuery(spark, work, spec)
    topk = TopKView(K, "total", ("kid",), refill=eng.result, spark=spark, slack=SLACK)

    # batch 0: the whole view — group g totals g+1 (top = highest ids)
    seed = spark.range(groups).select(
        F.col("id").alias("kid"), (F.col("id") + 1).alias("v"), F.lit(1).alias("weight")
    )
    topk.apply(eng.process_batch({"items": seed}, 0, emit_delta=True))

    per_batch = []
    deletions = 0
    deleted_total = 0  # Σv removed so far — victims are always current top-1
    for b in range(1, batches + 1):
        victim = topk.result_rows()[0]  # current top member
        ops = [(int(victim["kid"]), int(victim["total"]), -1)]  # full delete
        deletions += 1
        deleted_total += 1
        # bulk ±1 churn on low-ranked groups (ids < groups//2): touched, but
        # their changelog rows sit far below the buffer boundary
        base = (b * 7919) % (groups // 2)
        ops += [
            ((base + i) % (groups // 2), 1 if (b + i) % 2 else -1, 1)
            for i in range(bulk)
        ]
        delta = spark.createDataFrame(ops, SCHEMA).localCheckpoint()
        t0 = time.perf_counter()
        ch = eng.process_batch({"items": delta}, b, emit_delta=True)
        n_changelog = ch.count()
        topk.apply(ch)
        per_batch.append(
            {
                "batch": b,
                "sec": round(time.perf_counter() - t0, 3),
                "changelog_rows": int(n_changelog),
                "collected_rows": topk.applied_rows,
                "refills_so_far": topk.refills,
            }
        )

    # exactness: maintained top-k == from-scratch rank of the live view
    want = [
        (r["kid"], r["total"])
        for r in eng.result()
        .orderBy(F.col("total").desc(), F.col("kid").asc())
        .limit(K)
        .collect()
    ]
    got = [(r["kid"], r["total"]) for r in topk.result_rows()]

    mean_changelog = sum(p["changelog_rows"] for p in per_batch) / len(per_batch)
    mean_collected = sum(p["collected_rows"] for p in per_batch) / len(per_batch)
    out = {
        "metric": "topk_churn_amortization",
        "groups": groups,
        "batches": batches,
        "bulk_churn_per_batch": bulk,
        "k": K,
        "slack": SLACK,
        "top_deletions": deletions,
        "refills": topk.refills,
        "expected_refills_ceiling": deletions // SLACK + 1,
        "mean_changelog_rows_per_batch": round(mean_changelog, 1),
        "mean_collected_rows_per_batch": round(mean_collected, 1),
        "collect_fraction": round(mean_collected / max(mean_changelog, 1), 4),
        "per_batch": per_batch,
        "result_exact": got == want,
    }
    print(json.dumps(out))
    spark.stop()


def ties() -> None:
    """Tie-heavy cost model: EVERY group total is drawn from 10 distinct
    values, so thousands of live rows tie the buffer's boundary VALUE — the
    degenerate case where a value-only changelog restriction would collect
    O(ties) rows per batch. The full lexicographic pushdown must keep the
    per-batch driver transfer within the buffer budget (k+2·slack), while
    the result stays exact vs a from-scratch rank.

    Usage:  python tools/topk_churn_scaling.py ties [groups] [batches] [bulk]
    """
    groups = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
    batches = int(sys.argv[3]) if len(sys.argv) > 3 else 20
    bulk = int(sys.argv[4]) if len(sys.argv) > 4 else 2_000
    spark = get_spark(app_name="topk_ties_scaling", shuffle_partitions=16)
    spec = AcyclicQuerySpec(
        relations=(RelSpec("items"),),
        group_by=("kid",),
        measures={"total": lambda: F.col("v")},
    )
    work = tempfile.mkdtemp(prefix="topk_ties_")
    eng = IncrementalAcyclicQuery(spark, work, spec)
    topk = TopKView(K, "total", ("kid",), refill=eng.result, spark=spark, slack=SLACK)

    # group g totals (g%10 + 1) * 10 — ten distinct totals; the top value
    # (100) is shared by groups//10 groups, so the boundary sits INSIDE a
    # ~10k-deep value tie broken only by kid
    seed = spark.range(groups).select(
        F.col("id").alias("kid"),
        ((F.col("id") % 10 + 1) * 10).alias("v"),
        F.lit(1).alias("weight"),
    )
    topk.apply(eng.process_batch({"items": seed}, 0, emit_delta=True))

    per_batch = []
    for b in range(1, batches + 1):
        # churn `bulk` groups INSIDE the boundary-tie cohort (kid ≡ 9 mod 10,
        # total 100) with net-zero pairs: every one is a touched group whose
        # −pre/+post rows tie the boundary value exactly
        base = (b * 7919) % (groups // 10)
        kids = [((base + i) % (groups // 10)) * 10 + 9 for i in range(bulk)]
        ops = [(kid, 1, 1) for kid in kids] + [(kid, 1, -1) for kid in kids]
        delta = spark.createDataFrame(ops, SCHEMA).localCheckpoint()
        ch = eng.process_batch({"items": delta}, b, emit_delta=True)
        n_changelog = ch.count()
        topk.apply(ch)
        per_batch.append(
            {
                "batch": b,
                "changelog_rows": int(n_changelog),
                "collected_rows": topk.applied_rows,
            }
        )

    want = [
        (r["kid"], r["total"])
        for r in eng.result()
        .orderBy(F.col("total").desc(), F.col("kid").asc())
        .limit(K)
        .collect()
    ]
    got = [(r["kid"], r["total"]) for r in topk.result_rows()]
    collected = [p["collected_rows"] for p in per_batch]
    out = {
        "metric": "topk_tie_heavy_transfer",
        "groups": groups,
        "distinct_totals": 10,
        "rows_tying_top_value": groups // 10,
        "batches": batches,
        "tie_churn_groups_per_batch": bulk,
        "k": K,
        "slack": SLACK,
        # a touched buffered group contributes BOTH a −pre and a +post row,
        # so the exact per-batch ceiling is 2×(buffer capacity)
        "collect_ceiling": 2 * (K + 2 * SLACK),
        "mean_changelog_rows_per_batch": round(
            sum(p["changelog_rows"] for p in per_batch) / len(per_batch), 1
        ),
        "mean_collected_rows_per_batch": round(sum(collected) / len(collected), 1),
        "max_collected_rows_per_batch": max(collected),
        "collect_bounded_by_buffer": max(collected) <= 2 * (K + 2 * SLACK),
        "refills": topk.refills,
        "result_exact": got == want,
        "per_batch": per_batch,
    }
    print(json.dumps(out))
    spark.stop()


def ties2() -> None:
    """Two-key ORDER BY tie-heavy cost model (round 8): totals drawn from 10
    distinct values AND a second order column ``d`` drawn from 2 — the
    boundary sits inside a cohort tying BOTH declared order values, broken
    only by the unique key. The generalized lexicographic pushdown
    (order values..., then keys) must keep per-batch driver transfer within
    the buffer budget exactly as the single-key form does.

    Usage:  python tools/topk_churn_scaling.py ties2 [groups] [batches] [bulk]
    """
    groups = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
    batches = int(sys.argv[3]) if len(sys.argv) > 3 else 20
    bulk = int(sys.argv[4]) if len(sys.argv) > 4 else 2_000
    spark = get_spark(app_name="topk_ties2_scaling", shuffle_partitions=16)
    spec = AcyclicQuerySpec(
        relations=(RelSpec("items"),),
        group_by=("kid", "d"),
        measures={"total": lambda: F.col("v")},
    )
    work = tempfile.mkdtemp(prefix="topk_ties2_")
    eng = IncrementalAcyclicQuery(spark, work, spec)
    topk = TopKView(
        K,
        (("total", "desc"), ("d", "asc")),
        ("kid",),
        refill=eng.result,
        spark=spark,
        slack=SLACK,
    )

    # group g: total (g%10 + 1)*10, d = g%2 — the top cohort (total=100,
    # d chosen by kid parity) ties BOTH order values groups//20 deep
    seed = spark.range(groups).select(
        F.col("id").alias("kid"),
        (F.col("id") % 2).cast("int").alias("d"),
        ((F.col("id") % 10 + 1) * 10).alias("v"),
        F.lit(1).alias("weight"),
    )
    topk.apply(eng.process_batch({"items": seed}, 0, emit_delta=True))

    per_batch = []
    for b in range(1, batches + 1):
        # churn groups inside the FULL two-key boundary-tie cohort
        # (kid ≡ 9 mod 10 -> total 100; kid odd -> d = 1): net-zero pairs,
        # every one tying BOTH boundary values exactly
        base = (b * 7919) % (groups // 10)
        kids = [((base + i) % (groups // 10)) * 10 + 9 for i in range(bulk)]
        ops = [(kid, kid % 2, 1, 1) for kid in kids] + [
            (kid, kid % 2, 1, -1) for kid in kids
        ]
        delta = spark.createDataFrame(
            ops, "kid long, d int, v long, weight int"
        ).localCheckpoint()
        ch = eng.process_batch({"items": delta}, b, emit_delta=True)
        n_changelog = ch.count()
        topk.apply(ch)
        per_batch.append(
            {
                "batch": b,
                "changelog_rows": int(n_changelog),
                "collected_rows": topk.applied_rows,
            }
        )

    want = [
        (r["kid"], r["d"], r["total"])
        for r in eng.result()
        .orderBy(F.col("total").desc(), F.col("d").asc(), F.col("kid").asc())
        .limit(K)
        .collect()
    ]
    got = [(r["kid"], r["d"], r["total"]) for r in topk.result_rows()]
    collected = [p["collected_rows"] for p in per_batch]
    out = {
        "metric": "topk_two_key_tie_heavy_transfer",
        "order_by": "total DESC, d ASC",
        "groups": groups,
        "distinct_totals": 10,
        "distinct_d": 2,
        "rows_tying_top_value": groups // 10,
        "batches": batches,
        "tie_churn_groups_per_batch": bulk,
        "k": K,
        "slack": SLACK,
        "collect_ceiling": 2 * (K + 2 * SLACK),
        "mean_changelog_rows_per_batch": round(
            sum(p["changelog_rows"] for p in per_batch) / len(per_batch), 1
        ),
        "mean_collected_rows_per_batch": round(sum(collected) / len(collected), 1),
        "max_collected_rows_per_batch": max(collected),
        "collect_bounded_by_buffer": max(collected) <= 2 * (K + 2 * SLACK),
        "refills": topk.refills,
        "result_exact": got == want,
        "per_batch": per_batch,
    }
    print(json.dumps(out))
    spark.stop()


def grouped() -> None:
    """GroupedTopKView cost model, measured: candidates are a (k+slack)/members
    reduction of the view, a drained group's refill reads ONLY that group's
    rows through the engine's restricted emission, and the per-batch
    rebuild READS only the manifest-committed shards (``BUCKETS`` = 8,
    fixed) the changelog's groups hash into — so per-batch read rows are
    the touched shards' candidates, not the whole candidate table. All row
    counts, host-load independent.

    Usage:  python tools/topk_churn_scaling.py grouped [n_groups] [members] [batches]
    """
    from flink_and_acyclic_schema_spark.streaming.topk import GroupedTopKView

    n_groups = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000
    members = int(sys.argv[3]) if len(sys.argv) > 3 else 40
    batches = int(sys.argv[4]) if len(sys.argv) > 4 else 12
    k = slack = 3
    spark = get_spark(app_name="grouped_topk_scaling", shuffle_partitions=16)
    spec = AcyclicQuerySpec(
        relations=(RelSpec("items"),),
        group_by=("g", "kid"),
        measures={"total": lambda: F.col("v")},
    )
    work = tempfile.mkdtemp(prefix="gtopk_churn_")
    eng = IncrementalAcyclicQuery(spark, work, spec)
    refill_reads = {"rows": 0, "calls": 0}

    def refill(touched):
        df = eng.result(touched).localCheckpoint()
        refill_reads["rows"] += df.count()
        refill_reads["calls"] += 1
        return df

    topk = GroupedTopKView(
        k,
        "total",
        ("g",),
        ("kid",),
        refill=refill,
        slack=slack,
        state_dir=f"{work}/topk",
        spark=spark,
    )
    topk.instrument = True

    # view: group g member m has total m+1 (top member = highest m)
    seed = spark.range(n_groups * members).select(
        (F.col("id") % n_groups).alias("g"),
        (F.col("id") / n_groups).cast("long").alias("kid"),
        ((F.col("id") / n_groups).cast("long") + 1).alias("v"),
        F.lit(1).alias("weight"),
    )
    topk.apply(eng.process_batch({"items": seed}, 0, emit_delta=True), batch_id=0)
    view_rows = n_groups * members
    cand_rows = int(topk._read_cand().count())
    shards = topk.BUCKETS

    # per batch: fully drain k+slack+1 victim groups' TOP members (forces a
    # refill for exactly those groups) + bulk churn on 50 OTHER groups — a
    # FIXED Δ footprint, so touched-shard reads track it, not the
    # candidate table
    drain_per_batch = 5
    bulk_groups = 50
    bulk_rows_per_group = 40
    per_batch = []
    for b in range(1, batches + 1):
        victims = [(b * drain_per_batch + i) % n_groups for i in range(drain_per_batch)]
        ops = [
            (g, members - 1 - j, members - j, -1)
            for g in victims
            for j in range(k + slack + 1)  # delete past the whole buffer
        ]
        base = (b * 104729) % n_groups
        ops += [
            ((base + i % bulk_groups) % n_groups, i % 3, 1 if (b + i) % 2 else -1, 1)
            for i in range(bulk_groups * bulk_rows_per_group)
        ]
        delta = spark.createDataFrame(ops, "g long, kid long, v long, weight int")
        topk.apply(eng.process_batch({"items": delta.localCheckpoint()}, b, emit_delta=True))
        per_batch.append(
            {
                "batch": b,
                "touched_shards": topk.last_touched_buckets,
                "read_rows": topk.last_read_rows,
            }
        )

    # exactness vs from-scratch per-group rank
    from pyspark.sql.window import Window

    w = Window.partitionBy("g").orderBy(F.col("total").desc(), F.col("kid").asc())
    want = (
        eng.result()
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
    got = topk.result()
    exact = (
        got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    )
    mean_read = sum(p["read_rows"] for p in per_batch) / len(per_batch)
    out = {
        "metric": "grouped_topk_cost_model",
        "groups": n_groups,
        "members_per_group": members,
        "view_rows": view_rows,
        "candidate_rows": cand_rows,
        "candidate_fraction": round(cand_rows / view_rows, 4),
        "shards": shards,
        "batches": batches,
        "drained_groups_per_batch": drain_per_batch,
        "bulk_churn_groups_per_batch": bulk_groups,
        "mean_touched_shards_per_batch": round(
            sum(p["touched_shards"] for p in per_batch) / len(per_batch), 1
        ),
        "mean_read_rows_per_batch": round(mean_read, 1),
        "read_fraction_of_candidates": round(mean_read / max(cand_rows, 1), 4),
        "refill_calls": refill_reads["calls"],
        "refill_rows_total": refill_reads["rows"],
        "refill_rows_per_drained_group": round(
            refill_reads["rows"] / max(batches * drain_per_batch, 1), 1
        ),
        "result_exact": bool(exact),
        "per_batch": per_batch,
    }
    print(json.dumps(out))
    spark.stop()


def durable() -> None:
    """Durable top-k persist cost: the buffer is a ≤ k+2·slack row
    driver-side dict, and an engine with ``top_k`` commits it as typed JSON
    inside its own manifest — the same ``os.replace`` that commits the
    engine's state, no Spark job. Measured end to end: the main() churn
    workload on an engine with ``TopKSpec``, per-batch wall split into the
    whole batch vs its ``topk`` phase (the fold), then a ``resume=True``
    engine checked against a from-scratch rank.

    Usage:  python tools/topk_churn_scaling.py durable [groups] [batches] [bulk]
    """
    from flink_and_acyclic_schema_spark.streaming.acyclic import TopKSpec

    groups = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
    batches = int(sys.argv[3]) if len(sys.argv) > 3 else 30
    bulk = int(sys.argv[4]) if len(sys.argv) > 4 else 2_000
    spark = get_spark(app_name="topk_durable_persist", shuffle_partitions=16)
    spec = AcyclicQuerySpec(
        relations=(RelSpec("items"),),
        group_by=("kid",),
        measures={"total": lambda: F.col("v")},
        top_k=TopKSpec(k=K, order_by="total", slack=SLACK),
    )
    work = tempfile.mkdtemp(prefix="topk_durable_")
    eng = IncrementalAcyclicQuery(spark, work, spec)
    eng.instrument = True
    seed = spark.range(groups).select(
        F.col("id").alias("kid"), (F.col("id") + 1).alias("v"), F.lit(1).alias("weight")
    )
    eng.process_batch({"items": seed}, 0)

    per_batch = []
    for b in range(1, batches + 1):
        victim = eng._topk.result_rows()[0]
        ops = [(int(victim["kid"]), int(victim["total"]), -1)]
        base = (b * 7919) % (groups // 2)
        ops += [
            ((base + i) % (groups // 2), 1 if (b + i) % 2 else -1, 1)
            for i in range(bulk)
        ]
        delta = spark.createDataFrame(ops, SCHEMA).localCheckpoint()
        t0 = time.perf_counter()
        eng.process_batch({"items": delta}, b)
        per_batch.append(
            {
                "batch": b,
                "batch_sec": round(time.perf_counter() - t0, 3),
                "topk_fold_sec": round(eng.last_profile["topk"]["sec"], 3),
            }
        )

    # exactness + durability: a resumed engine agrees with from-scratch
    want = [
        (r["kid"], r["total"])
        for r in eng.result()
        .orderBy(F.col("total").desc(), F.col("kid").asc())
        .limit(K)
        .collect()
    ]
    re = IncrementalAcyclicQuery(spark, work, spec, resume=True)
    got = [(r["kid"], r["total"]) for r in re._topk.result_rows()]
    mean = lambda k_: round(  # noqa: E731
        sum(p[k_] for p in per_batch) / len(per_batch), 4
    )
    out = {
        "metric": "topk_durable_persist_cost",
        "groups": groups,
        "batches": batches,
        "bulk_churn_per_batch": bulk,
        "k": K,
        "slack": SLACK,
        "buffer_rows_persisted": len(eng._topk._buffer),
        "manifest_bytes": os.path.getsize(os.path.join(work, "MANIFEST.json")),
        "mean_batch_sec": mean("batch_sec"),
        "mean_topk_fold_sec_per_batch": mean("topk_fold_sec"),
        "resume_exact": got == want,
        "per_batch": per_batch,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "grouped":
        grouped()
    elif len(sys.argv) > 1 and sys.argv[1] == "ties":
        ties()
    elif len(sys.argv) > 1 and sys.argv[1] == "ties2":
        ties2()
    elif len(sys.argv) > 1 and sys.argv[1] == "durable":
        durable()
    else:
        main()
