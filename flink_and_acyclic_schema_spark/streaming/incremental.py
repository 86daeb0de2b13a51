"""Incremental Q10 maintenance over a changelog stream — the reference's whole
program (continuous TPC-H Q10 over inserts/deletes, DataFlow.java:26-61),
rebuilt as correct-by-construction weight-algebra IVM in foreachBatch.

Where the reference wires five hand-written keyed ProcessFunctions with
Alive/Dead delta tags (and breaks retraction in three places — SURVEY.md §8
B1-B3), this maintains, per micro-batch of weighted deltas (ΔL, ΔO, ΔC, ΔN):

    ΔJ = ΔL⋈O₀⋈C₀⋈N₀  ∪  L₁⋈ΔO⋈C₀⋈N₀  ∪  L₁⋈O₁⋈ΔC⋈N₀  ∪  L₁⋈O₁⋈C₁⋈ΔN

(X₀ = state before the batch, X₁ = X₀+ΔX — the standard sequential delta-join
decomposition; weights multiply across the join; the engine executes the
algebraically-identical TELESCOPED form, B_i = Δ_i⋈old-suffix ∪ new_i⋈B_{i+1},
over any tree: the enumeration follows a leaf-peeling order — repeatedly
remove a leaf of the remaining tree — so every suffix stays a connected
subtree (the telescoping nets identically in any order), and each new-side
relation is joined once per batch instead of once per term —
streaming/acyclic.py ``_factored_chain``) and folds ΔJ into the grouped
aggregate state: revenue += Σ w·price·(1−disc), support += Σ w. Groups keep
living in state while support ≠ 0 and surface while support > 0. Per batch the
work is O(Δ ⋈ state) — never a recompute.

Filters (o_orderdate window, l_returnflag='R' — ref ops #8/#10) are applied at
parse time so the join state only holds filter-surviving tuples — the same
state-size reduction Cquirrel's alive-gating achieves.

State lives in parquet per relation + aggregate (at 100 TB this slots into a
Delta table / RocksDB state store with the identical merge; parquet keeps the
recipe dependency-free here). Batch-mode ``run_incremental_q10`` applies the
same merge over pre-chunked DataFrames; the streaming entry wires it to a real
``readStream`` file source via foreachBatch (availableNow trigger).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import dec
from ..sources.changelog_source import parse_changelog
from .acyclic import AcyclicQuerySpec, IncrementalAcyclicQuery, RelSpec

GROUP_COLS = ("c_custkey", "c_name", "c_acctbal", "n_name")

Q10_LO = "1995-10-01"
Q10_HI = "1996-01-01"


def q10_spec(lo: str = Q10_LO, hi: str = Q10_HI) -> AcyclicQuerySpec:
    """TPC-H Q10 as ONE declarative tree spec — the query the reference
    hand-compiles into five ProcessFunctions (DataFlow.java:26-61) and this
    repo used to hand-wire in ~60 lines of joins. Relations in leaf-to-root
    order (lineitem→orders→customer→nation), filters at the edge (ref ops
    #8/#10), nation broadcast (25 rows). Lineitem — the high-volume state
    every orders delta probes on l_orderkey — is BUCKETED (round 5): its
    state persists hash-partitioned on the probe key, so an orders delta's
    term reads only the delta's bucket partitions, the on-disk analogue of
    the reference's keyed state lookup (keyBy, DataFlow.java:45-56)."""
    return AcyclicQuerySpec(
        relations=(
            RelSpec(
                "lineitem",
                delta_filter=lambda d: d.filter(F.col("l_returnflag") == "R"),
                buckets=16,
                bucket_key=("l_orderkey",),
            ),
            RelSpec(
                "orders",
                join_on=("o_orderkey", "l_orderkey"),
                delta_filter=lambda d: d.filter(
                    (F.col("o_orderdate") >= F.lit(lo).cast("timestamp_ntz"))
                    & (F.col("o_orderdate") < F.lit(hi).cast("timestamp_ntz"))
                ),
            ),
            RelSpec("customer", join_on=("c_custkey", "o_custkey")),
            RelSpec(
                "nation", join_on=("n_nationkey", "c_nationkey"), broadcast_state=True
            ),
        ),
        group_by=GROUP_COLS,
        measures={
            "revenue": lambda: dec("l_extendedprice") * dec(F.lit(1.0) - F.col("l_discount"))
        },
        finalize=lambda df: df.select(
            *GROUP_COLS, F.col("revenue").cast("double").alias("revenue")
        ),
    )


class IncrementalQ10:
    """Continuous Q10 over the reference's multiplexed changelog text format —
    now a thin parse shim over the generic ``IncrementalAcyclicQuery`` engine
    (the Q10-specific part is just ``q10_spec()`` + ``parse_changelog``)."""

    def __init__(self, spark: SparkSession, state_dir: str, lo: str = Q10_LO, hi: str = Q10_HI):
        self._engine = IncrementalAcyclicQuery(spark, state_dir, q10_spec(lo, hi))

    def process_batch(self, batch_lines: DataFrame, batch_id: int | None = None) -> None:
        self._engine.process_batch(parse_changelog(batch_lines), batch_id)

    def result(self) -> DataFrame:
        return self._engine.result()


def run_incremental_q10_stream(
    spark: SparkSession, changelog_dir: str, scratch_dir: str
) -> DataFrame:
    """Real Structured Streaming wiring: file source over the changelog dir,
    one file per micro-batch, IVM merge in foreachBatch, availableNow trigger.
    Returns the final maintained Q10 state as a batch DataFrame."""
    ivm = IncrementalQ10(spark, os.path.join(scratch_dir, "state"))
    ckpt = os.path.join(scratch_dir, "ckpt")
    if os.path.exists(ckpt):
        shutil.rmtree(ckpt)
    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1).text(changelog_dir)
    )
    q = (
        stream.writeStream.foreachBatch(ivm.process_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return ivm.result()
