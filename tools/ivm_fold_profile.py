"""Per-PHASE job/stage/second breakdown of the engine fold — the round-9
instrument for the one open scale observation: at sf1 the ENGINE fold is the
whole latency budget of every continuous stack (11-20 s/batch in
IVM_TOPK_SINK_SF1.json) while everything downstream is bounded and ~1 s,
and nobody had measured where inside ``process_batch`` those seconds go.

Runs the heaviest registered stack — ``incremental_topk_sink_stream``'s
shape (the full Q10 tree, bucketed lineitem/orders/customer state, spec-level
durable top-20) — on real TPC-H data at sf1 with
``instrument = True`` set on each engine: every action point of a batch
executes inside a phase-tagged Spark job group, and the status tracker's
job/stage counts plus wall time land in ``last_profile``. Phases:

- ``ingest``        — one job that materializes every delta and counts its
                      rows, so empty deltas skip the batch (runs when ≥2
                      relations carry deltas and one has committed state);
- ``join_fold``     — the ΔJ union of delta-join terms + the grouped fold,
                      materialized by the emit_delta localCheckpoint;
- ``touched``       — the distinct touched-group set; runs only with
                      ``preserve`` (otherwise the fold's group keys are the
                      set, broadcast to the restrictions below);
- ``state_write:R`` — relation R's net+write state commit (round 9: ONE
                      fused full-state shuffle; was the merge exchange plus
                      the write repartition; a state whose row bound fits
                      the broadcast rule nets in one task, one job);
- ``agg_write``     — the grouped-aggregate state commit;
- ``emitted_write`` — persisting the batch's view changelog: the pre- and
                      post-batch views of the touched groups execute
                      inside this write;
- ``emit_post``     — the same changelog materialized in memory, for a
                      batch without a ``batch_id``;
- ``topk``          — the maintained top-k feed: the changelog's bounded
                      collect, folded into the O(k) buffer that rides
                      the engine manifest.

Exactness guard (unchanged from tools/topk_sink_sf1.py): the maintained
top-20 must equal a from-scratch ORDER BY over the final maintained view.

Usage:  python tools/ivm_fold_profile.py [sf_dir] [n_chunks] [compact_every]
                                         [repeats] [shape]
Prints one JSON line (default sf_dir .scratch/sf1, compact_every 1 = the
registered stack's merge-and-rewrite regime; pass >1 to profile the
log-structured O(Δ)-IO regime on the same stack) — committed as
IVM_FOLD_PROFILE.json with before/after runs of the round-9 fusion.
``shape`` (round 11): ``q10`` (default, the path-shaped flagship stack),
``star`` — the registered degree-3 star around lineitem
(plans/ivm_ext._star_spec) — or ``q10tree`` — the Q10 chain with part AND
supplier branches off lineitem (a degree-3 node atop a 4-relation chain).
Pair any shape with SPARK_GRAFT_NO_FACTOR=1 for the controlled A/B.
The two tree shapes bracket the factorization's value: a DEPTH-1 star has
no shared multi-relation new-side chain (per-term re-joins only the single
center state, so factored≈per-term — measured parity); ``q10tree`` is the
shape the generalization actually pays off on — the Δpart/Δsupplier terms
each re-join the whole new-side nation–customer–orders–lineitem chain in
the per-term decomposition, and the factored form joins it once.
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


def _q10tree_gens():
    from flink_and_acyclic_schema_spark.streaming.delta_transport import DeltaGen

    return (
        DeltaGen(
            "lineitem",
            "l_orderkey",
            (
                "l_orderkey",
                "l_partkey",
                "l_suppkey",
                "l_extendedprice",
                "l_discount",
                "l_returnflag",
            ),
            dup_mod=5,
            del_mod=7,
        ),
        DeltaGen(
            "orders", "o_orderkey", ("o_orderkey", "o_custkey", "o_orderdate"),
            del_mod=7,
        ),
        DeltaGen(
            "customer", "c_custkey", ("c_custkey", "c_name", "c_nationkey"),
            del_mod=13,
        ),
        DeltaGen("nation", "n_nationkey", ("n_nationkey", "n_name")),
        DeltaGen("part", "p_partkey", ("p_partkey", "p_brand")),
        DeltaGen("supplier", "s_suppkey", ("s_suppkey", "s_nationkey")),
    )


def _q10tree_spec():
    """Q10's 4-relation chain with part AND supplier branching off lineitem
    (degree-3 node atop the chain) — deltas on all six relations, so the
    per-term decomposition re-joins the shared new-side chain once per
    branch delta while the factored tree joins every new relation once."""
    from flink_and_acyclic_schema_spark.plans.ivm_topk_ext import (
        Q10_DATE_HI,
        Q10_DATE_LO,
        _revenue,
    )
    from flink_and_acyclic_schema_spark.streaming.acyclic import (
        AcyclicQuerySpec,
        RelSpec,
    )

    return AcyclicQuerySpec(
        relations=(
            RelSpec(
                "lineitem",
                delta_filter=lambda d: d.filter(F.col("l_returnflag") == "R"),
                project=(
                    "l_orderkey",
                    "l_partkey",
                    "l_suppkey",
                    "l_extendedprice",
                    "l_discount",
                ),
                buckets=16,
                bucket_key=("l_orderkey",),
            ),
            RelSpec(
                "orders",
                join_on=("o_orderkey", "l_orderkey"),
                delta_filter=lambda d: d.filter(
                    (F.col("o_orderdate") >= F.lit(Q10_DATE_LO).cast("timestamp_ntz"))
                    & (F.col("o_orderdate") < F.lit(Q10_DATE_HI).cast("timestamp_ntz"))
                ),
                project=("o_orderkey", "o_custkey"),
                buckets=16,
                bucket_key=("o_orderkey",),
            ),
            RelSpec(
                "customer",
                join_on=("c_custkey", "o_custkey"),
                buckets=16,
                bucket_key=("c_custkey",),
            ),
            RelSpec(
                "nation",
                join_on=("n_nationkey", "c_nationkey"),
                broadcast_state=True,
            ),
            RelSpec("part", join_on=("p_partkey", "l_partkey")),
            RelSpec("supplier", join_on=("s_suppkey", "l_suppkey")),
        ),
        group_by=("n_name", "p_brand"),
        measures={"revenue": _revenue},
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO_ROOT, ".scratch/sf1")
    n_chunks = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    compact_every = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    # repeats=2 (round 10, the first-batch question): run the SAME stream
    # again with a FRESH engine in the SAME JVM — if the repeat's batch 0
    # drops to steady-state, the first-batch premium is JVM/session warmup
    # (codegen, committer, shuffle init), not engine one-time work
    repeats = int(sys.argv[4]) if len(sys.argv) > 4 else 1
    shape = sys.argv[5] if len(sys.argv) > 5 else "q10"
    spark = get_spark(app_name="ivm_fold_profile", shuffle_partitions=32)
    work = tempfile.mkdtemp(prefix="ivm_fold_profile_")
    if shape == "star":
        from flink_and_acyclic_schema_spark.plans.ivm_ext import (
            _star_gens,
            _star_spec,
        )

        gens, spec_fn = _star_gens(), lambda: _star_spec(buckets=64)
    elif shape == "q10tree":
        gens, spec_fn = _q10tree_gens(), _q10tree_spec
    else:
        gens, spec_fn = _q10_gens(), _q10_topk_spec
    delta_dir, schema = generate_delta_chunks(
        spark, sf_dir, f"{work}/deltas", gens, n_chunks=n_chunks
    )
    rel_columns = {g.table: g.columns for g in gens}
    # eng0 is THE profiled engine: repeats below use their own binding, so
    # the exactness guard at the end verifies the run the per_batch/
    # phase_totals numbers describe (r10 advice — the guard previously
    # checked the LAST repeat's engine)
    eng0 = IncrementalAcyclicQuery(
        spark, f"{work}/state", spec_fn(), compact_every=compact_every
    )
    eng0.instrument = True
    # SPARK_GRAFT_NO_FACTOR=1: force the per-term ΔJ path (engine escape
    # hatch) so a back-to-back pair attributes the factored path's win on
    # identical code and host window
    if os.environ.get("SPARK_GRAFT_NO_FACTOR"):
        eng0.factor_terms = False
    per_batch = []
    totals: dict[str, dict] = {}

    def handle(batch, batch_id):
        batch = batch.localCheckpoint()  # count once, fold from memory
        n_in = batch.count()
        t0 = time.perf_counter()
        eng0.process_batch(split_deltas(batch, rel_columns), batch_id)
        sec = time.perf_counter() - t0
        prof = {
            k: {"jobs": v["jobs"], "stages": v["stages"], "sec": round(v["sec"], 2)}
            for k, v in eng0.last_profile.items()
        }
        for k, v in eng0.last_profile.items():
            t = totals.setdefault(k, {"jobs": 0, "stages": 0, "sec": 0.0})
            t["jobs"] += v["jobs"]
            t["stages"] += v["stages"]
            t["sec"] += v["sec"]
        per_batch.append(
            {
                "batch": batch_id,
                "input_delta_rows": int(n_in),
                "batch_sec": round(sec, 2),
                "profiled_jobs": sum(v["jobs"] for v in prof.values()),
                "profiled_sec": round(sum(v["sec"] for v in prof.values()), 2),
                # round 11: term-build localCheckpoint materializations and
                # factored engagement per batch — the guard against deep
                # chains inverting the factored win via O(depth) B unions
                "localCheckpoints": eng0.last_checkpoints,
                "factored": eng0.last_factored,
                "phases": prof,
            }
        )

    t_all = time.perf_counter()
    run_delta_stream(spark, delta_dir, schema, work, handle)
    wall = time.perf_counter() - t_all

    repeat_runs = []
    for rep in range(1, repeats):
        rep_eng = IncrementalAcyclicQuery(
            spark,
            f"{work}/state_rep{rep}",
            spec_fn(),
            compact_every=compact_every,
        )
        rep_eng.instrument = True
        rep_batches: list[dict] = []

        def rep_handle(batch, batch_id, _eng=rep_eng, _out=rep_batches):
            batch = batch.localCheckpoint()
            batch.count()
            t0 = time.perf_counter()
            _eng.process_batch(split_deltas(batch, rel_columns), batch_id)
            _out.append(
                {
                    "batch": batch_id,
                    "batch_sec": round(time.perf_counter() - t0, 2),
                    "profiled_jobs": sum(
                        v["jobs"] for v in _eng.last_profile.values()
                    ),
                }
            )

        run_delta_stream(spark, delta_dir, schema, f"{work}/rep{rep}", rep_handle)
        repeat_runs.append(rep_batches)

    if shape in ("star", "q10tree"):
        # exactness for the tree shapes: the PROFILED engine's maintained
        # view must equal a twin fed the identical stream with factor_terms
        # inverted — the controlled-pair equivalence, checked in-run on eng0
        twin = IncrementalAcyclicQuery(
            spark, f"{work}/state_twin", spec_fn(), compact_every=compact_every
        )
        twin.factor_terms = not eng0.factor_terms

        def twin_handle(batch, batch_id):
            twin.process_batch(split_deltas(batch, rel_columns), batch_id)

        run_delta_stream(spark, delta_dir, schema, f"{work}/twin", twin_handle)
        maintained = {tuple(r) for r in eng0.result().collect()}
        scratch = {tuple(r) for r in twin.result().collect()}
    else:
        # exactness: maintained top-20 == from-scratch ORDER BY over final
        # view — checked against eng0, the engine the profile describes
        cols = ["c_custkey", "c_name", "revenue", "c_acctbal", "n_name"]
        maintained = {tuple(r) for r in eng0.topk_result().select(*cols).collect()}
        scratch = {
            tuple(r)
            for r in eng0.result()
            .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
            .limit(20)
            .select(*cols)
            .collect()
        }
    out = {
        "tool": "ivm_fold_profile",
        "sf_dir": sf_dir,
        "n_chunks": n_chunks,
        "compact_every": compact_every,
        "shape": shape,
        "factor_terms": eng0.factor_terms,
        "wall_sec": round(wall, 2),
        "per_batch": per_batch,
        "phase_totals": {
            k: {"jobs": v["jobs"], "stages": v["stages"], "sec": round(v["sec"], 2)}
            for k, v in sorted(
                totals.items(), key=lambda kv: -kv[1]["sec"]
            )
        },
        "maintained_eq_scratch": maintained == scratch,
        "topk_rows": len(maintained),
    }
    if repeat_runs:
        out["repeat_runs"] = repeat_runs
        out["first_batch_note"] = (
            "repeat runs replay the identical stream on a FRESH engine in "
            "the same JVM: a repeat batch 0 at steady-state latency means "
            "the first-batch premium is session warmup (codegen/JIT, "
            "committer + shuffle init, parquet footer caches), not engine "
            "one-time work; any residual repeat-batch-0 premium is the "
            "engine's own one-time cost (schema pins, empty-state frames, "
            "top-k prime)"
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
