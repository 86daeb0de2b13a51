"""Tests for the GENERIC acyclic-tree IVM engine (streaming/acyclic.py) —
the declarative generalization of the reference's hand-compiled Q10 dataflow
(ref DataFlow.java:26-61).

Core property: **prefix-closure** — folding the changelog through the engine
in ANY batch split yields exactly the state a from-scratch recompute over the
net rows produces. This is the Cquirrel correctness claim, checked here on a
branching 3-relation tree with inserts, duplicate inserts, and deletes
arriving across batches (hypothesis picks the splits), plus targeted cases
the random splits may miss: delete-before-insert across batches, relations
absent from a batch, and result-time HAVING flipping both ways.
"""

from __future__ import annotations

import uuid

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from .conftest import full_tier_only, prop_examples
from pyspark.sql import functions as F

from flink_and_acyclic_schema_spark.streaming.acyclic import (
    AcyclicQuerySpec,
    IncrementalAcyclicQuery,
    RelSpec,
)

# --- tiny branching tree: fact(k_dim1, k_dim2, v) with two dimension parents -
FACT_SCHEMA = "k1 int, k2 int, v int, weight int"
DIM1_SCHEMA = "d1 int, name1 string, weight int"
DIM2_SCHEMA = "d2 int, name2 string, weight int"

SPEC = AcyclicQuerySpec(
    relations=(
        RelSpec("fact"),
        RelSpec("dim1", join_on=("d1", "k1"), broadcast_state=True),
        # joins fact, not dim1 — a branch
        RelSpec("dim2", join_on=("d2", "k2"), broadcast_state=True),
    ),
    group_by=("name1", "name2"),
    measures={"total": lambda: F.col("v")},
)

DIM1 = [(i, f"a{i}", 1) for i in range(3)]
DIM2 = [(i, f"b{i}", 1) for i in range(3)]


def _engine(spark, tmp_path, spec=SPEC):
    return IncrementalAcyclicQuery(spark, str(tmp_path / f"s{uuid.uuid4().hex[:8]}"), spec)


def _result_map(df):
    return {(r["name1"], r["name2"]): r["total"] for r in df.collect()}


def _model(fact_ops):
    """Plain-Python recompute: net fact multiset joined to the static dims."""
    from collections import Counter

    net: Counter = Counter()
    for k1, k2, v, w in fact_ops:
        net[(k1, k2, v)] += w
    out: Counter = Counter()
    support: Counter = Counter()
    for (k1, k2, v), m in net.items():
        if 0 <= k1 < 3 and 0 <= k2 < 3:
            out[(f"a{k1}", f"b{k2}")] += m * v
            support[(f"a{k1}", f"b{k2}")] += m
    return {g: out[g] for g in out if support[g] > 0}


FACT_OPS = st.lists(
    st.tuples(
        st.integers(0, 2), st.integers(0, 2), st.integers(1, 5), st.sampled_from([1, -1])
    ),
    min_size=0,
    max_size=16,
)


@settings(max_examples=prop_examples(6), deadline=None, suppress_health_check=list(HealthCheck))
@given(ops=FACT_OPS, split=st.integers(0, 16))
def test_prefix_closure_any_split(spark, tmp_path_factory, ops, split):
    """Engine state after feeding (prefix, suffix) == recompute over net rows,
    for every split hypothesis chooses — including empty halves."""
    tmp = tmp_path_factory.mktemp("ivm")
    eng = _engine(spark, tmp)
    split = min(split, len(ops))
    halves = [ops[:split], ops[split:]]
    # batch 0 must introduce every relation; dims ride along with it
    eng.process_batch(
        {
            "fact": spark.createDataFrame(halves[0] or [], FACT_SCHEMA),
            "dim1": spark.createDataFrame(DIM1, DIM1_SCHEMA),
            "dim2": spark.createDataFrame(DIM2, DIM2_SCHEMA),
        }
    )
    # batch 1 only carries the fact delta — dim states must persist untouched
    eng.process_batch({"fact": spark.createDataFrame(halves[1] or [], FACT_SCHEMA)})
    assert _result_map(eng.result()) == _model(ops)


def test_delete_before_insert_across_batches(spark, tmp_path):
    """A delete arriving BEFORE its insert (different micro-batches) must
    cancel exactly — the case the reference's Alive/Dead tags get wrong
    (SURVEY.md §8 B2). Requires negative net weights to survive in state."""
    eng = _engine(spark, tmp_path)
    eng.process_batch(
        {
            "fact": spark.createDataFrame([(0, 0, 10, -1)], FACT_SCHEMA),
            "dim1": spark.createDataFrame(DIM1, DIM1_SCHEMA),
            "dim2": spark.createDataFrame(DIM2, DIM2_SCHEMA),
        }
    )
    eng.process_batch({"fact": spark.createDataFrame([(0, 0, 10, 1)], FACT_SCHEMA)})
    assert _result_map(eng.result()) == {}
    # and a second insert resurrects the group
    eng.process_batch({"fact": spark.createDataFrame([(0, 0, 10, 1)], FACT_SCHEMA)})
    assert _result_map(eng.result()) == {("a0", "b0"): 10}


def test_dim_delete_retracts_downstream(spark, tmp_path):
    """Deleting a dimension row retracts every joined fact from the aggregate
    — delta propagation through the tree, not just the fact relation."""
    eng = _engine(spark, tmp_path)
    eng.process_batch(
        {
            "fact": spark.createDataFrame([(0, 0, 7, 1), (1, 0, 3, 1)], FACT_SCHEMA),
            "dim1": spark.createDataFrame(DIM1, DIM1_SCHEMA),
            "dim2": spark.createDataFrame(DIM2, DIM2_SCHEMA),
        }
    )
    assert _result_map(eng.result()) == {("a0", "b0"): 7, ("a1", "b0"): 3}
    eng.process_batch({"dim1": spark.createDataFrame([(0, "a0", -1)], DIM1_SCHEMA)})
    assert _result_map(eng.result()) == {("a1", "b0"): 3}


def test_having_flips_both_ways(spark, tmp_path):
    """Result-time HAVING over the maintained measure: inserts push a group
    over the threshold, deletes push it back under (continuous Q18 shape)."""
    spec = AcyclicQuerySpec(
        relations=SPEC.relations,
        group_by=SPEC.group_by,
        measures=SPEC.measures,
        having=lambda: F.col("total") > 10,
    )
    eng = _engine(spark, tmp_path, spec)
    eng.process_batch(
        {
            "fact": spark.createDataFrame([(0, 0, 6, 1)], FACT_SCHEMA),
            "dim1": spark.createDataFrame(DIM1, DIM1_SCHEMA),
            "dim2": spark.createDataFrame(DIM2, DIM2_SCHEMA),
        }
    )
    assert _result_map(eng.result()) == {}  # 6 <= 10: group alive but gated
    eng.process_batch({"fact": spark.createDataFrame([(0, 0, 5, 1)], FACT_SCHEMA)})
    assert _result_map(eng.result()) == {("a0", "b0"): 11}
    eng.process_batch({"fact": spark.createDataFrame([(0, 0, 5, -1)], FACT_SCHEMA)})
    assert _result_map(eng.result()) == {}


def test_delta_filter_gates_state(spark, tmp_path):
    """Ingest-time filters keep filtered-out rows from ever entering state —
    the reference's alive-gating state-size property (σ at the edge)."""
    spec = AcyclicQuerySpec(
        relations=(
            RelSpec("fact", delta_filter=lambda d: d.filter(F.col("v") >= 5)),
            RelSpec("dim1", join_on=("d1", "k1")),
            RelSpec("dim2", join_on=("d2", "k2")),
        ),
        group_by=SPEC.group_by,
        measures=SPEC.measures,
    )
    eng = _engine(spark, tmp_path, spec)
    eng.process_batch(
        {
            "fact": spark.createDataFrame([(0, 0, 4, 1), (0, 0, 5, 1)], FACT_SCHEMA),
            "dim1": spark.createDataFrame(DIM1, DIM1_SCHEMA),
            "dim2": spark.createDataFrame(DIM2, DIM2_SCHEMA),
        }
    )
    assert _result_map(eng.result()) == {("a0", "b0"): 5}
    state = eng._read_state("fact")
    assert state.filter(F.col("v") < 5).count() == 0


def test_log_structured_state_equivalent(spark, tmp_path):
    """compact_every=k appends O(Δ) segments and compacts every k batches;
    by linearity of the weight algebra the maintained result must equal the
    merge-every-batch engine AND the model, at every prefix — including
    batches where compaction triggers and cross-batch delete-before-insert."""
    ops = [
        [(0, 0, 5, 1), (1, 1, 2, 1), (2, 2, 9, -1)],  # delete-before-insert
        [(0, 0, 5, 1), (2, 2, 9, 1)],
        [(0, 0, 5, -1), (1, 1, 3, 1)],
        [(0, 0, 5, -1), (2, 2, 9, 1)],  # 4th append -> compaction at k=3
        [(1, 1, 2, -1)],
    ]
    eng_log = IncrementalAcyclicQuery(
        spark, str(tmp_path / "log"), SPEC, compact_every=3
    )
    eng_merge = IncrementalAcyclicQuery(spark, str(tmp_path / "merge"), SPEC)
    seen: list = []
    for i, batch in enumerate(ops):
        deltas = {"fact": spark.createDataFrame(batch, FACT_SCHEMA)}
        if i == 0:
            deltas["dim1"] = spark.createDataFrame(DIM1, DIM1_SCHEMA)
            deltas["dim2"] = spark.createDataFrame(DIM2, DIM2_SCHEMA)
        eng_log.process_batch(dict(deltas))
        eng_merge.process_batch(dict(deltas))
        seen.extend(batch)
        expect = _model(seen)
        assert _result_map(eng_log.result()) == expect, f"log-mode diverged at batch {i}"
        assert _result_map(eng_merge.result()) == expect, f"merge-mode diverged at batch {i}"
    # compaction actually ran: fact state is back to a single live path
    assert len(eng_log._segments["fact"]) <= 3


def test_resume_and_replay_skip(spark, tmp_path):
    """Exactly-once across restarts: a new engine instance resumed on the
    same state dir (a) restores the manifest-committed state, (b) SKIPS a
    redelivered batch_id (the foreachBatch redelivery after checkpoint
    recovery), and (c) keeps maintaining correctly afterwards. A replay on
    the SAME instance resets the per-batch counters too."""
    d = str(tmp_path / "state")
    b0 = {
        "fact": [(0, 0, 5, 1), (1, 1, 2, 1)],
        "dim1": DIM1,
        "dim2": DIM2,
    }
    b1 = [(0, 0, 3, 1), (1, 1, 2, -1)]
    b2 = [(2, 2, 7, 1)]

    eng = IncrementalAcyclicQuery(spark, d, SPEC)
    frames0 = {
        "fact": spark.createDataFrame(b0["fact"], FACT_SCHEMA),
        "dim1": spark.createDataFrame(b0["dim1"], DIM1_SCHEMA),
        "dim2": spark.createDataFrame(b0["dim2"], DIM2_SCHEMA),
    }
    eng.process_batch(frames0, batch_id=0)
    # redelivered on the same instance right after it ran: skipped, and the
    # per-batch counters describe the skip, not the batch before it
    eng.process_batch(frames0, batch_id=0)
    assert eng.last_factored == 0 and eng.last_checkpoints == 0
    assert _result_map(eng.result()) == _model(b0["fact"])
    eng.process_batch({"fact": spark.createDataFrame(b1, FACT_SCHEMA)}, batch_id=1)
    expect_after_b1 = _model(b0["fact"] + b1)
    assert _result_map(eng.result()) == expect_after_b1

    # "crash": drop the instance, reattach a fresh one to the same dir
    eng2 = IncrementalAcyclicQuery(spark, d, SPEC, resume=True)
    assert _result_map(eng2.result()) == expect_after_b1
    # redelivered batch 1 must be a no-op (idempotence), not a double-apply
    eng2.process_batch({"fact": spark.createDataFrame(b1, FACT_SCHEMA)}, batch_id=1)
    assert _result_map(eng2.result()) == expect_after_b1
    # and genuinely new batches still apply
    eng2.process_batch({"fact": spark.createDataFrame(b2, FACT_SCHEMA)}, batch_id=2)
    assert _result_map(eng2.result()) == _model(b0["fact"] + b1 + b2)


def test_resume_log_structured_with_hist(spark, tmp_path):
    """Resume covers the log-structured regime and histogram state too: a
    fresh instance reattaches to unmerged segments (manifest restores the
    segment lists; schemas re-pin consistently thanks to canonical-schema
    writes), skips a redelivered batch, and keeps min/max/distinct exact
    through post-resume deletes and a compaction."""
    d = str(tmp_path / "state")
    eng = IncrementalAcyclicQuery(spark, d, HIST_SPEC, compact_every=3)
    eng.process_batch(
        {
            "fact": spark.createDataFrame(
                [(0, 0, 2, 1), (0, 0, 9, 1), (0, 0, 5, 1)], FACT_SCHEMA
            ),
            "dim1": spark.createDataFrame(DIM1, DIM1_SCHEMA),
            "dim2": spark.createDataFrame(DIM2, DIM2_SCHEMA),
        },
        batch_id=0,
    )
    b1 = [(0, 0, 9, -1)]  # retire the max
    eng.process_batch({"fact": spark.createDataFrame(b1, FACT_SCHEMA)}, batch_id=1)
    expect = {("a0", "b0"): (7, 2, 5, 2)}
    assert _hist_result_map(eng.result()) == expect

    eng2 = IncrementalAcyclicQuery(spark, d, HIST_SPEC, compact_every=3, resume=True)
    assert _hist_result_map(eng2.result()) == expect
    # redelivery of batch 1 is a no-op
    eng2.process_batch({"fact": spark.createDataFrame(b1, FACT_SCHEMA)}, batch_id=1)
    assert _hist_result_map(eng2.result()) == expect
    # new batches keep maintaining; enough appends to trigger compaction
    eng2.process_batch(
        {"fact": spark.createDataFrame([(0, 0, 5, -1)], FACT_SCHEMA)}, batch_id=2
    )
    eng2.process_batch(
        {"fact": spark.createDataFrame([(0, 0, 4, 1)], FACT_SCHEMA)}, batch_id=3
    )
    assert _hist_result_map(eng2.result()) == {("a0", "b0"): (6, 2, 4, 2)}


def test_resume_gc_discards_uncommitted_leftovers(spark, tmp_path):
    """Dirs not referenced by the committed manifest (partial writes of a
    crashed batch) are garbage-collected on resume and never read."""
    import os

    d = str(tmp_path / "state")
    eng = IncrementalAcyclicQuery(spark, d, SPEC)
    eng.process_batch(
        {
            "fact": spark.createDataFrame([(0, 0, 5, 1)], FACT_SCHEMA),
            "dim1": spark.createDataFrame(DIM1, DIM1_SCHEMA),
            "dim2": spark.createDataFrame(DIM2, DIM2_SCHEMA),
        },
        batch_id=0,
    )
    # simulate a crash mid-batch-1: an orphan next-version dir on disk
    orphan = os.path.join(d, "fact_v99")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "junk.parquet"), "w") as fh:
        fh.write("not parquet")
    eng2 = IncrementalAcyclicQuery(spark, d, SPEC, resume=True)
    assert not os.path.exists(orphan), "uncommitted leftover not GC'd"
    assert _result_map(eng2.result()) == {("a0", "b0"): 5}


def test_composite_join_key_and_projection(spark, tmp_path):
    """A COMPOSITE FK edge ((own1, earlier1), (own2, earlier2)) joins on the
    conjunction; ``project`` prunes delta columns at ingest so state never
    holds untouched columns."""
    spec = AcyclicQuerySpec(
        relations=(
            RelSpec("fact", project=("k1", "k2", "v")),
            # dimension keyed by the PAIR (d1, d2) — composite edge to fact
            RelSpec("dimp", join_on=(("d1", "k1"), ("d2", "k2"))),
        ),
        group_by=("label",),
        measures={"total": lambda: F.col("v")},
    )
    eng = _engine(spark, tmp_path, spec)
    eng.process_batch(
        {
            # extra column must be pruned by project, not enter state
            "fact": spark.createDataFrame(
                [(0, 0, 5, "junk", 1), (0, 1, 7, "junk", 1), (1, 0, 11, "junk", 1)],
                "k1 int, k2 int, v int, extra string, weight int",
            ),
            "dimp": spark.createDataFrame(
                [(0, 0, "p00", 1), (0, 1, "p01", 1)],
                "d1 int, d2 int, label string, weight int",
            ),
        }
    )
    res = {r["label"]: r["total"] for r in eng.result().collect()}
    assert res == {"p00": 5, "p01": 7}  # (1,0) matches NO composite key
    assert "extra" not in eng._read_state("fact").columns
    # delete one half of a composite key pair -> only that pair retracts
    eng.process_batch(
        {
            "dimp": spark.createDataFrame(
                [(0, 1, "p01", -1)], "d1 int, d2 int, label string, weight int"
            )
        }
    )
    res = {r["label"]: r["total"] for r in eng.result().collect()}
    assert res == {"p00": 5}


# --- non-invertible aggregates (MIN/MAX/COUNT DISTINCT) via histogram state -
HIST_SPEC = AcyclicQuerySpec(
    relations=SPEC.relations,
    group_by=SPEC.group_by,
    measures=SPEC.measures,
    hist_measures={
        "vmin": ("min", lambda: F.col("v")),
        "vmax": ("max", lambda: F.col("v")),
        "nv": ("count_distinct", lambda: F.col("v")),
    },
)


def _hist_result_map(df):
    return {
        (r["name1"], r["name2"]): (r["total"], r["vmin"], r["vmax"], r["nv"])
        for r in df.collect()
    }


def _hist_model(fact_ops):
    """Recompute: per group, sum over net multiplicities plus min/max/distinct
    over values whose NET multiplicity is positive."""
    from collections import Counter, defaultdict

    net: Counter = Counter()
    for k1, k2, v, w in fact_ops:
        net[(k1, k2, v)] += w
    total: Counter = Counter()
    support: Counter = Counter()
    values = defaultdict(set)
    for (k1, k2, v), m in net.items():
        if not (0 <= k1 < 3 and 0 <= k2 < 3):
            continue
        g = (f"a{k1}", f"b{k2}")
        total[g] += m * v
        support[g] += m
        if m > 0:
            values[g].add(v)
    return {
        g: (total[g], min(values[g]), max(values[g]), len(values[g]))
        for g in total
        if support[g] > 0
    }


def test_hist_max_steps_down_on_delete(spark, tmp_path):
    """The case sum-only IVM cannot do: deleting the row that HOLDS the max
    must surface the runner-up (and symmetrically for min). No running scalar
    survives that — only the value histogram does."""
    eng = _engine(spark, tmp_path, HIST_SPEC)
    eng.process_batch(
        {
            "fact": spark.createDataFrame(
                [(0, 0, 2, 1), (0, 0, 9, 1), (0, 0, 5, 1)], FACT_SCHEMA
            ),
            "dim1": spark.createDataFrame(DIM1, DIM1_SCHEMA),
            "dim2": spark.createDataFrame(DIM2, DIM2_SCHEMA),
        }
    )
    assert _hist_result_map(eng.result()) == {("a0", "b0"): (16, 2, 9, 3)}
    # delete the max row -> max steps down to 5; delete min -> min steps up
    eng.process_batch({"fact": spark.createDataFrame([(0, 0, 9, -1)], FACT_SCHEMA)})
    assert _hist_result_map(eng.result()) == {("a0", "b0"): (7, 2, 5, 2)}
    eng.process_batch({"fact": spark.createDataFrame([(0, 0, 2, -1)], FACT_SCHEMA)})
    assert _hist_result_map(eng.result()) == {("a0", "b0"): (5, 5, 5, 1)}


def test_hist_count_distinct_multiplicity_aware(spark, tmp_path):
    """Deleting ONE of two copies of a value must not drop it from the
    distinct count; deleting the last copy must."""
    eng = _engine(spark, tmp_path, HIST_SPEC)
    eng.process_batch(
        {
            "fact": spark.createDataFrame(
                [(0, 0, 4, 1), (0, 0, 4, 1), (0, 0, 7, 1)], FACT_SCHEMA
            ),
            "dim1": spark.createDataFrame(DIM1, DIM1_SCHEMA),
            "dim2": spark.createDataFrame(DIM2, DIM2_SCHEMA),
        }
    )
    assert _hist_result_map(eng.result()) == {("a0", "b0"): (15, 4, 7, 2)}
    eng.process_batch({"fact": spark.createDataFrame([(0, 0, 4, -1)], FACT_SCHEMA)})
    assert _hist_result_map(eng.result()) == {("a0", "b0"): (11, 4, 7, 2)}
    eng.process_batch({"fact": spark.createDataFrame([(0, 0, 4, -1)], FACT_SCHEMA)})
    assert _hist_result_map(eng.result()) == {("a0", "b0"): (7, 7, 7, 1)}


@full_tier_only
@settings(max_examples=prop_examples(5), deadline=None, suppress_health_check=list(HealthCheck))
@given(ops=FACT_OPS, split=st.integers(0, 16))
def test_hist_prefix_closure_any_split(spark, tmp_path_factory, ops, split):
    """Prefix-closure extends to the histogram measures: engine state after
    any batch split == from-scratch min/max/distinct over net-positive rows."""
    tmp = tmp_path_factory.mktemp("ivmh")
    eng = _engine(spark, tmp, HIST_SPEC)
    split = min(split, len(ops))
    eng.process_batch(
        {
            "fact": spark.createDataFrame(ops[:split] or [], FACT_SCHEMA),
            "dim1": spark.createDataFrame(DIM1, DIM1_SCHEMA),
            "dim2": spark.createDataFrame(DIM2, DIM2_SCHEMA),
        }
    )
    eng.process_batch({"fact": spark.createDataFrame(ops[split:] or [], FACT_SCHEMA)})
    assert _hist_result_map(eng.result()) == _hist_model(ops)


@full_tier_only
def test_hist_log_structured_equivalent(spark, tmp_path):
    """Histogram state obeys the same linearity: log-structured appends with
    compaction produce the identical min/max/distinct at every prefix."""
    ops = [
        [(0, 0, 5, 1), (0, 0, 9, 1), (1, 1, 2, 1)],
        [(0, 0, 9, -1), (1, 1, 2, 1)],  # max retired while 5 survives
        [(0, 0, 3, 1)],
        [(1, 1, 2, -1), (0, 0, 3, -1)],  # 4th append -> compaction at k=3
    ]
    eng_log = IncrementalAcyclicQuery(
        spark, str(tmp_path / "log"), HIST_SPEC, compact_every=3
    )
    eng_merge = IncrementalAcyclicQuery(spark, str(tmp_path / "merge"), HIST_SPEC)
    seen: list = []
    for i, batch in enumerate(ops):
        deltas = {"fact": spark.createDataFrame(batch, FACT_SCHEMA)}
        if i == 0:
            deltas["dim1"] = spark.createDataFrame(DIM1, DIM1_SCHEMA)
            deltas["dim2"] = spark.createDataFrame(DIM2, DIM2_SCHEMA)
        eng_log.process_batch(dict(deltas))
        eng_merge.process_batch(dict(deltas))
        seen.extend(batch)
        expect = _hist_model(seen)
        assert _hist_result_map(eng_log.result()) == expect, f"log diverged at {i}"
        assert _hist_result_map(eng_merge.result()) == expect, f"merge diverged at {i}"


# --- cyclic join graphs via spanning tree + residual edge --------------------
RESIDUAL_SPEC = AcyclicQuerySpec(
    relations=SPEC.relations,
    group_by=SPEC.group_by,
    measures=SPEC.measures,
    # non-tree edge dim1–dim2 closes the cycle fact–dim1–dim2–fact; with
    # d1 = k1 and d2 = k2 it is equivalent to keeping only k1 == k2 rows
    residual=lambda: F.col("d1") == F.col("d2"),
)


def _residual_model(fact_ops):
    return {
        g: v for g, v in _model(fact_ops).items() if g[0][1:] == g[1][1:]
    }


@full_tier_only
@settings(max_examples=prop_examples(5), deadline=None, suppress_health_check=list(HealthCheck))
@given(ops=FACT_OPS, split=st.integers(0, 16))
def test_residual_prefix_closure_any_split(spark, tmp_path_factory, ops, split):
    """Prefix-closure holds with a residual (cycle) edge: σ over the non-tree
    predicate distributes over the delta-join terms, so the maintained state
    equals the from-scratch recompute of the CYCLIC query at any split."""
    tmp = tmp_path_factory.mktemp("ivmr")
    eng = _engine(spark, tmp, RESIDUAL_SPEC)
    split = min(split, len(ops))
    eng.process_batch(
        {
            "fact": spark.createDataFrame(ops[:split] or [], FACT_SCHEMA),
            "dim1": spark.createDataFrame(DIM1, DIM1_SCHEMA),
            "dim2": spark.createDataFrame(DIM2, DIM2_SCHEMA),
        }
    )
    eng.process_batch({"fact": spark.createDataFrame(ops[split:] or [], FACT_SCHEMA)})
    assert _result_map(eng.result()) == _residual_model(ops)


def test_residual_delete_retracts_through_cycle(spark, tmp_path):
    """Deletes propagate through a cyclic spec exactly: retracting a dim row
    retracts only the residual-surviving join results."""
    eng = _engine(spark, tmp_path, RESIDUAL_SPEC)
    eng.process_batch(
        {
            # (0,0): on-cycle, survives residual; (0,1): filtered by residual
            "fact": spark.createDataFrame([(0, 0, 7, 1), (0, 1, 3, 1)], FACT_SCHEMA),
            "dim1": spark.createDataFrame(DIM1, DIM1_SCHEMA),
            "dim2": spark.createDataFrame(DIM2, DIM2_SCHEMA),
        }
    )
    assert _result_map(eng.result()) == {("a0", "b0"): 7}
    eng.process_batch({"dim2": spark.createDataFrame([(0, "b0", -1)], DIM2_SCHEMA)})
    assert _result_map(eng.result()) == {}


# --- EXISTS gates (semi-join via presence deltas) ----------------------------
SEMI_SPEC = AcyclicQuerySpec(
    relations=(
        RelSpec("fact"),
        RelSpec("dim1", join_on=("d1", "k1"), broadcast_state=True),
        RelSpec("gate", join_on=("g", "k2"), semi=True),
    ),
    group_by=("name1",),
    measures={"total": lambda: F.col("v")},
)
GATE_SCHEMA = "g int, gv int, weight int"


def _semi_map(df):
    return {r["name1"]: r["total"] for r in df.collect()}


def _semi_model(fact_ops, gate_ops):
    """Recompute: fact rows contribute iff their k2 has POSITIVE NET count in
    the gate (key-level net — exact EXISTS for well-formed changelogs)."""
    from collections import Counter

    key_net: Counter = Counter()
    for g, _, w in gate_ops:
        key_net[g] += w
    present = {g for g, m in key_net.items() if m > 0}
    fnet: Counter = Counter()
    for k1, k2, v, w in fact_ops:
        fnet[(k1, k2, v)] += w
    total: Counter = Counter()
    support: Counter = Counter()
    for (k1, k2, v), m in fnet.items():
        if 0 <= k1 < 3 and k2 in present:
            total[f"a{k1}"] += m * v
            support[f"a{k1}"] += m
    return {g: total[g] for g in total if support[g] > 0}


def test_semi_gate_multiplicity_invariant(spark, tmp_path):
    """EXISTS semantics: two qualifying children count the parent ONCE;
    deleting one of two copies changes nothing; deleting the last copy
    retracts the parent — the step function a plain join gets wrong."""
    eng = _engine(spark, tmp_path, SEMI_SPEC)
    eng.process_batch(
        {
            "fact": spark.createDataFrame([(0, 7, 10, 1)], FACT_SCHEMA),
            "dim1": spark.createDataFrame(DIM1, DIM1_SCHEMA),
            "gate": spark.createDataFrame([(7, 1, 1), (7, 2, 1)], GATE_SCHEMA),
        }
    )
    assert _semi_map(eng.result()) == {"a0": 10}  # once, not twice
    eng.process_batch({"gate": spark.createDataFrame([(7, 1, -1)], GATE_SCHEMA)})
    assert _semi_map(eng.result()) == {"a0": 10}  # copy removed, still exists
    eng.process_batch({"gate": spark.createDataFrame([(7, 2, -1)], GATE_SCHEMA)})
    assert _semi_map(eng.result()) == {}  # last copy removed -> retracted


def test_semi_gate_child_arrives_after_parent(spark, tmp_path):
    """A presence flip propagates to ALREADY-BUFFERED parents (the gate's
    delta term joins the parents' state), both directions."""
    eng = _engine(spark, tmp_path, SEMI_SPEC)
    eng.process_batch(
        {
            "fact": spark.createDataFrame([(1, 5, 4, 1)], FACT_SCHEMA),
            "dim1": spark.createDataFrame(DIM1, DIM1_SCHEMA),
            "gate": spark.createDataFrame([], GATE_SCHEMA),
        }
    )
    assert _semi_map(eng.result()) == {}
    eng.process_batch({"gate": spark.createDataFrame([(5, 9, 1)], GATE_SCHEMA)})
    assert _semi_map(eng.result()) == {"a1": 4}


@settings(max_examples=prop_examples(5), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    fact_ops=FACT_OPS,
    gate_ops=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 2), st.sampled_from([1, -1])),
        min_size=0,
        max_size=12,
    ),
    split=st.integers(0, 16),
)
@full_tier_only
def test_semi_prefix_closure_any_split(spark, tmp_path_factory, fact_ops, gate_ops, split):
    """Prefix closure with an EXISTS gate: presence deltas telescope, so any
    batch split reproduces the from-scratch gated recompute."""
    tmp = tmp_path_factory.mktemp("ivms")
    eng = _engine(spark, tmp, SEMI_SPEC)
    fs = min(split, len(fact_ops))
    gs = min(split, len(gate_ops))
    eng.process_batch(
        {
            "fact": spark.createDataFrame(fact_ops[:fs] or [], FACT_SCHEMA),
            "dim1": spark.createDataFrame(DIM1, DIM1_SCHEMA),
            "gate": spark.createDataFrame(gate_ops[:gs] or [], GATE_SCHEMA),
        }
    )
    eng.process_batch(
        {
            "fact": spark.createDataFrame(fact_ops[fs:] or [], FACT_SCHEMA),
            "gate": spark.createDataFrame(gate_ops[gs:] or [], GATE_SCHEMA),
        }
    )
    assert _semi_map(eng.result()) == _semi_model(fact_ops, gate_ops)


# --- NOT-EXISTS gates (anti-join by inclusion-exclusion) ---------------------
ANTI_SPEC = AcyclicQuerySpec(
    relations=(
        RelSpec("fact"),
        RelSpec("dim1", join_on=("d1", "k1"), broadcast_state=True),
        RelSpec("gate", join_on=("g", "k2"), anti=True),
    ),
    group_by=("name1",),
    measures={"total": lambda: F.col("v")},
)


def _anti_model(fact_ops, gate_ops):
    from collections import Counter

    key_net: Counter = Counter()
    for g, _, w in gate_ops:
        key_net[g] += w
    present = {g for g, m in key_net.items() if m > 0}
    fnet: Counter = Counter()
    for k1, k2, v, w in fact_ops:
        fnet[(k1, k2, v)] += w
    total: Counter = Counter()
    support: Counter = Counter()
    for (k1, k2, v), m in fnet.items():
        if 0 <= k1 < 3 and k2 not in present:
            total[f"a{k1}"] += m * v
            support[f"a{k1}"] += m
    return {g: total[g] for g in total if support[g] > 0}


def test_anti_gate_flip_both_ways(spark, tmp_path):
    """NOT EXISTS under retraction: inserting the first qualifying child
    RETRACTS the parent; deleting the last child makes it REAPPEAR — the
    inverted step function, exact through inclusion-exclusion."""
    eng = _engine(spark, tmp_path, ANTI_SPEC)
    eng.process_batch(
        {
            "fact": spark.createDataFrame([(0, 7, 10, 1), (1, 8, 3, 1)], FACT_SCHEMA),
            "dim1": spark.createDataFrame(DIM1, DIM1_SCHEMA),
            "gate": spark.createDataFrame([], GATE_SCHEMA),
        }
    )
    assert _semi_map(eng.result()) == {"a0": 10, "a1": 3}  # nothing exists yet
    eng.process_batch({"gate": spark.createDataFrame([(7, 1, 1)], GATE_SCHEMA)})
    assert _semi_map(eng.result()) == {"a1": 3}  # a0's key now exists -> out
    eng.process_batch({"gate": spark.createDataFrame([(7, 2, 1)], GATE_SCHEMA)})
    assert _semi_map(eng.result()) == {"a1": 3}  # second copy: no change
    eng.process_batch(
        {"gate": spark.createDataFrame([(7, 1, -1), (7, 2, -1)], GATE_SCHEMA)}
    )
    assert _semi_map(eng.result()) == {"a0": 10, "a1": 3}  # drained -> back


@settings(max_examples=prop_examples(5), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    fact_ops=FACT_OPS,
    gate_ops=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 2), st.sampled_from([1, -1])),
        min_size=0,
        max_size=12,
    ),
    split=st.integers(0, 16),
)
@full_tier_only
def test_anti_prefix_closure_any_split(spark, tmp_path_factory, fact_ops, gate_ops, split):
    """Prefix closure for NOT EXISTS: the inclusion-exclusion terms telescope
    like everything else, any batch split reproduces the gated recompute."""
    tmp = tmp_path_factory.mktemp("ivma")
    eng = _engine(spark, tmp, ANTI_SPEC)
    fs = min(split, len(fact_ops))
    gs = min(split, len(gate_ops))
    eng.process_batch(
        {
            "fact": spark.createDataFrame(fact_ops[:fs] or [], FACT_SCHEMA),
            "dim1": spark.createDataFrame(DIM1, DIM1_SCHEMA),
            "gate": spark.createDataFrame(gate_ops[:gs] or [], GATE_SCHEMA),
        }
    )
    eng.process_batch(
        {
            "fact": spark.createDataFrame(fact_ops[fs:] or [], FACT_SCHEMA),
            "gate": spark.createDataFrame(gate_ops[gs:] or [], GATE_SCHEMA),
        }
    )
    assert _semi_map(eng.result()) == _anti_model(fact_ops, gate_ops)


# --- left-outer preservation (continuous Q13 shape) --------------------------
PRESERVE_SPEC = AcyclicQuerySpec(
    relations=(
        RelSpec("parent"),
        RelSpec("child", join_on=("c_pid", "pid")),
    ),
    group_by=("pid", "pname"),
    measures={"n_children": lambda: F.lit(1)},
    preserve="parent",
    finalize=lambda df: df.withColumn(
        "n_children", F.coalesce(F.col("n_children"), F.lit(0)).cast("long")
    ),
)
PARENT_SCHEMA = "pid int, pname string, weight int"
CHILD_SCHEMA = "c_pid int, cv int, weight int"


def _preserve_map(df):
    return {(r["pid"], r["pname"]): r["n_children"] for r in df.collect()}


def test_preserve_zero_match_groups_surface(spark, tmp_path):
    """Parents with no joining children surface with the padded default —
    left-outer semantics a pure inner-join IVM loses."""
    eng = _engine(spark, tmp_path, PRESERVE_SPEC)
    eng.process_batch(
        {
            "parent": spark.createDataFrame([(1, "a", 1), (2, "b", 1)], PARENT_SCHEMA),
            "child": spark.createDataFrame([(1, 10, 1), (1, 11, 1)], CHILD_SCHEMA),
        }
    )
    assert _preserve_map(eng.result()) == {(1, "a"): 2, (2, "b"): 0}


def test_preserve_outer_retraction_resurfaces_zero(spark, tmp_path):
    """THE outer-join retraction hard case: deleting a parent's LAST child
    drains inner support, and the parent must RE-SURFACE as a padded zero row
    (not vanish); deleting the parent itself finally removes the group."""
    eng = _engine(spark, tmp_path, PRESERVE_SPEC)
    eng.process_batch(
        {
            "parent": spark.createDataFrame([(1, "a", 1)], PARENT_SCHEMA),
            "child": spark.createDataFrame([(1, 10, 1)], CHILD_SCHEMA),
        }
    )
    assert _preserve_map(eng.result()) == {(1, "a"): 1}
    eng.process_batch({"child": spark.createDataFrame([(1, 10, -1)], CHILD_SCHEMA)})
    assert _preserve_map(eng.result()) == {(1, "a"): 0}
    eng.process_batch({"parent": spark.createDataFrame([(1, "a", -1)], PARENT_SCHEMA)})
    assert _preserve_map(eng.result()) == {}


def test_preserve_log_structured(spark, tmp_path):
    """Padding reads the preserved state's net multiset in the log-structured
    regime too (unmerged segments reduced lazily)."""
    eng = IncrementalAcyclicQuery(
        spark, str(tmp_path / "log"), PRESERVE_SPEC, compact_every=5
    )
    eng.process_batch(
        {
            "parent": spark.createDataFrame([(1, "a", 1), (2, "b", 1)], PARENT_SCHEMA),
            "child": spark.createDataFrame([(2, 7, 1)], CHILD_SCHEMA),
        }
    )
    eng.process_batch(
        {
            # delete parent 1 (never matched) and parent 2's only child
            "parent": spark.createDataFrame([(1, "a", -1)], PARENT_SCHEMA),
            "child": spark.createDataFrame([(2, 7, -1)], CHILD_SCHEMA),
        }
    )
    assert _preserve_map(eng.result()) == {(2, "b"): 0}


def test_avg_via_finalize(spark, tmp_path):
    """AVG needs no engine support: SUM + COUNT measures divided in finalize
    stay exact under retraction (both components are invertible)."""
    spec = AcyclicQuerySpec(
        relations=SPEC.relations,
        group_by=SPEC.group_by,
        measures={"total": lambda: F.col("v"), "cnt": lambda: F.lit(1)},
        finalize=lambda df: df.select(
            "name1", "name2", (F.col("total") / F.col("cnt")).alias("avg_v")
        ),
    )
    eng = _engine(spark, tmp_path, spec)
    eng.process_batch(
        {
            "fact": spark.createDataFrame(
                [(0, 0, 2, 1), (0, 0, 10, 1), (0, 0, 6, 1)], FACT_SCHEMA
            ),
            "dim1": spark.createDataFrame(DIM1, DIM1_SCHEMA),
            "dim2": spark.createDataFrame(DIM2, DIM2_SCHEMA),
        }
    )
    rows = {(r["name1"], r["name2"]): r["avg_v"] for r in eng.result().collect()}
    assert rows == {("a0", "b0"): 6.0}
    eng.process_batch({"fact": spark.createDataFrame([(0, 0, 10, -1)], FACT_SCHEMA)})
    rows = {(r["name1"], r["name2"]): r["avg_v"] for r in eng.result().collect()}
    assert rows == {("a0", "b0"): 4.0}


def test_emit_delta_chains_engines(spark, tmp_path):
    """View composition: process_batch(emit_delta=True) returns the emitted
    view's changelog, valid as a downstream engine's input relation — the
    maintained per-k1 SUM feeds an outer join, and updates/retractions of
    the view row (−old, +new) keep the outer aggregate exact."""
    inner_spec = AcyclicQuerySpec(
        relations=(RelSpec("fact"),),
        group_by=("k1",),
        measures={"sv": lambda: F.col("v")},
        finalize=lambda df: df.select(F.col("k1").alias("vk"), "sv"),
    )
    outer_spec = AcyclicQuerySpec(
        relations=(RelSpec("base"), RelSpec("view", join_on=("vk", "bk"))),
        group_by=("label",),
        measures={"total": lambda: F.col("sv")},
    )
    BASE_SCHEMA = "bk int, label string, weight int"
    inner = _engine(spark, tmp_path, inner_spec)
    outer = _engine(spark, tmp_path, outer_spec)

    def outer_map():
        return {r["label"]: r["total"] for r in outer.result().collect()}

    vd = inner.process_batch(
        {"fact": spark.createDataFrame([(0, 0, 5, 1), (1, 0, 3, 1)], FACT_SCHEMA)},
        emit_delta=True,
    )
    outer.process_batch(
        {
            "base": spark.createDataFrame([(0, "x", 1), (1, "y", 1)], BASE_SCHEMA),
            "view": vd,
        }
    )
    assert outer_map() == {"x": 5, "y": 3}
    # view row UPDATE: changelog must retract (0,5) and insert (0,7)
    vd = inner.process_batch(
        {"fact": spark.createDataFrame([(0, 0, 2, 1)], FACT_SCHEMA)}, emit_delta=True
    )
    assert {(r["vk"], r["sv"], r["weight"]) for r in vd.collect()} == {
        (0, 7, 1),
        (0, 5, -1),
    }
    outer.process_batch({"view": vd})
    assert outer_map() == {"x": 7, "y": 3}
    # draining k1=0 retracts the view row entirely -> outer group vanishes
    vd = inner.process_batch(
        {"fact": spark.createDataFrame([(0, 0, 5, -1), (0, 0, 2, -1)], FACT_SCHEMA)},
        emit_delta=True,
    )
    outer.process_batch({"view": vd})
    assert outer_map() == {"y": 3}


def test_emit_delta_zero_net_touch_is_harmless(spark, tmp_path):
    """A batch whose delta cancels exactly against state (delete + re-insert
    of identical rows) leaves the view unchanged. Round 9: the ΔJ terms
    consume the UNMERGED old ∪ Δ union, so such zero-net contributions can
    mark the group as touched and the un-netted changelog then carries an
    identical ±pair for it — the pair must net to zero row-for-row, and a
    downstream engine folding the changelog must not move (the documented
    cancellation contract in _process_batch_inner)."""
    inner_spec = AcyclicQuerySpec(
        relations=(RelSpec("fact"),),
        group_by=("k1",),
        measures={"sv": lambda: F.col("v")},
        finalize=lambda df: df.select(F.col("k1").alias("vk"), "sv"),
    )
    down_spec = AcyclicQuerySpec(
        relations=(RelSpec("view"),),
        group_by=("vk",),
        measures={"total": lambda: F.col("sv")},
    )
    inner = _engine(spark, tmp_path, inner_spec)
    down = _engine(spark, tmp_path, down_spec)
    vd = inner.process_batch(
        {"fact": spark.createDataFrame([(0, 0, 5, 1), (1, 0, 3, 1)], FACT_SCHEMA)},
        emit_delta=True,
    )
    down.process_batch({"view": vd})

    def down_map():
        return {r["vk"]: r["total"] for r in down.result().collect()}

    assert down_map() == {0: 5, 1: 3}
    # zero-net touch of k1=0: the same row leaves and re-enters in one batch
    vd = inner.process_batch(
        {"fact": spark.createDataFrame([(0, 0, 5, -1), (0, 0, 5, 1)], FACT_SCHEMA)},
        emit_delta=True,
    )
    # whatever rows the changelog carries, they net to zero per row value
    net: dict[tuple, int] = {}
    for r in vd.collect():
        key = (r["vk"], r["sv"])
        net[key] = net.get(key, 0) + r["weight"]
    assert all(w == 0 for w in net.values())
    # the view itself is unchanged, and a downstream fold does not move
    assert {(r["vk"], r["sv"]) for r in inner.result().collect()} == {(0, 5), (1, 3)}
    down.process_batch({"view": vd})
    assert down_map() == {0: 5, 1: 3}


def test_fused_net_write_single_exchange(spark, tmp_path, monkeypatch):
    """Round-9 fusion guardrail: the merge-mode state write of a BUCKETED
    relation nets INSIDE the write. On the shuffle path (no row bound: a
    single-relation spec takes no ingest count) the net runs after the
    bucket repartition, so the plan handed to the parquet writer must
    contain exactly ONE Exchange (the repartition's) — the net's groupBy
    keys include ``_bucket``, whose hash partitioning satisfies the
    aggregate's clustering requirement. A second Exchange reappearing here
    means the round-8 two-shuffle shape regressed (merge groupBy + write
    repartition) and every merge-mode batch pays a full extra state shuffle
    per bucketed relation. With a row bound (a two-relation spec: the
    ingest job counts both deltas) within the broadcast rule, the net runs
    in one task: NO Exchange, and still one file per ``_bucket=``
    directory. Results themselves are covered by every other test; this
    pins the PLAN: the one the bucketed write sorts within partitions and
    hands to the parquet writer."""
    import os
    import threading

    import flink_and_acyclic_schema_spark.streaming.acyclic as am

    captured: dict = {}
    real = am.IncrementalAcyclicQuery._write_state
    df_cls = type(spark.range(1))  # the runtime class (Spark 4 classic)
    real_sort = df_cls.sortWithinPartitions
    local = threading.local()  # state writes run on commit-wave threads

    def spy(self, rel, df, path, net_fn=None, max_rows=None):
        local.write = (rel, path, net_fn, max_rows)
        try:
            return real(self, rel, df, path, net_fn, max_rows)
        finally:
            local.write = None

    def sort_spy(self, *cols, **kwargs):
        write = getattr(local, "write", None)
        if write is not None and write[0] == "fact":
            plan = self._jdf.queryExecution().executedPlan().toString()
            captured["fact"] = (plan, *write[1:])
        return real_sort(self, *cols, **kwargs)

    monkeypatch.setattr(am.IncrementalAcyclicQuery, "_write_state", spy)
    monkeypatch.setattr(df_cls, "sortWithinPartitions", sort_spy)
    fact = RelSpec("fact", buckets=4, bucket_key=("k1",))
    dims = [(i, f"a{i}", 1) for i in range(10)]

    def run(relations):
        spec = AcyclicQuerySpec(
            relations=relations,
            group_by=("k1",),
            measures={"total": lambda: F.col("v")},
        )
        eng = _engine(spark, tmp_path, spec)
        # batch 1 makes the write a REAL old ∪ Δ union (state + delta) with
        # net-relevant cancellation (delete of an existing row)
        fact_rows = ([(i, 0, i, 1) for i in range(8)], [(0, 0, 0, -1), (9, 0, 9, 1)])
        for bid, rows in enumerate(fact_rows):
            deltas = {"fact": spark.createDataFrame(rows, FACT_SCHEMA)}
            if len(relations) > 1:
                deltas["dim1"] = spark.createDataFrame(dims if bid == 0 else [], DIM1_SCHEMA)
            eng.process_batch(deltas, batch_id=bid)
        # and the fused write is still CORRECT: netted state equals the model
        got = {(r["k1"], r["total"]) for r in eng.result().collect()}
        assert got == {(i, i) for i in range(1, 8)} | {(9, 9)}

    run((fact,))
    plan, _, net_fn, max_rows = captured["fact"]
    assert net_fn is not None and max_rows is None
    assert plan.count("Exchange") == 1, plan

    run((fact, RelSpec("dim1", join_on=("d1", "k1"))))
    plan, path, net_fn, max_rows = captured["fact"]
    assert net_fn is not None and max_rows is not None
    assert "Exchange" not in plan, plan
    buckets = [d for d in os.listdir(path) if d.startswith("_bucket=")]
    assert len(buckets) > 1, buckets
    for d in buckets:
        files = [f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)


def test_three_level_argmax_chain(spark, tmp_path):
    """Q15-shape nested aggregate-of-aggregate: per-key SUM view feeds a
    GLOBAL-MAX view (value histogram), and the outer engine joins back on
    total = max (argmax). Deleting from the leader must step the max down to
    the runner-up AND re-point the join-back; ties surface every tied key."""
    sum_spec = AcyclicQuerySpec(
        relations=(RelSpec("fact"),),
        group_by=("k1",),
        measures={"sv": lambda: F.col("v")},
        finalize=lambda df: df.select(
            F.col("k1").alias("vk"), "sv", F.lit(1).alias("one")
        ),
    )
    max_spec = AcyclicQuerySpec(
        relations=(RelSpec("rev", project=("sv",)),),
        group_by=(),
        hist_measures={"mx": ("max", lambda: F.col("sv"))},
        finalize=lambda df: df.select("mx", F.lit(1).alias("mk")),
    )
    top_spec = AcyclicQuerySpec(
        relations=(
            RelSpec("base"),
            RelSpec("view", join_on=("vk", "bk")),
            RelSpec("maxv", join_on=("mk", "one"), broadcast_state=True),
        ),
        residual=lambda: F.col("sv") == F.col("mx"),
        group_by=("label",),
    )
    BASE_SCHEMA = "bk int, label string, weight int"
    inner = _engine(spark, tmp_path, sum_spec)
    gmax = _engine(spark, tmp_path, max_spec)
    top = _engine(spark, tmp_path, top_spec)

    def step(fact_rows, base_rows=()):
        deltas = {"base": spark.createDataFrame(list(base_rows) or [], BASE_SCHEMA)}
        vd = inner.process_batch(
            {"fact": spark.createDataFrame(fact_rows, FACT_SCHEMA)}, emit_delta=True
        )
        if vd is not None:
            deltas["view"] = vd
            md = gmax.process_batch({"rev": vd}, emit_delta=True)
            if md is not None:
                deltas["maxv"] = md
        top.process_batch(deltas)
        return {r["label"] for r in top.result().collect()}

    assert step(
        [(0, 0, 5, 1), (1, 0, 3, 1)], [(0, "x", 1), (1, "y", 1)]
    ) == {"x"}
    # leader loses 4 -> k0 sums to 1, global max steps down to 3 -> argmax y
    assert step([(0, 0, 4, -1)]) == {"y"}
    # k0 climbs back to a TIE at 3 -> both surface
    assert step([(0, 0, 2, 1)]) == {"x", "y"}
    # draining y's base row retracts it from the join-back (view row stays)
    assert step([], [(1, "y", -1)]) == {"x"}


def test_chained_nonequi_gates_flip_both_ways(spark, tmp_path):
    """Q21-shape correlated NON-EQUI gates (EXISTS sibling with OTHER key;
    NOT EXISTS other LATE sibling) via a chained count-distinct stats view:
    the inner engine maintains per-order (n_supp, n_late) histograms, the
    outer applies the decorrelated gates as residuals over the view columns.
    Exercises both flip directions under retraction: deleting a late sibling
    ADMITS a previously-blocked row (n_late 2→1), inserting a sibling admits
    an only-supplier row (n_supp 1→2), and a late re-insert retracts again."""
    LINE_SCHEMA = "ok int, sk int, late int, weight int"
    inner_spec = AcyclicQuerySpec(
        relations=(RelSpec("line"),),
        group_by=("ok",),
        hist_measures={
            "n_supp": ("count_distinct", lambda: F.col("sk")),
            "n_late": ("count_distinct", lambda: F.when(F.col("late") == 1, F.col("sk"))),
        },
        finalize=lambda df: df.select(F.col("ok").alias("vk"), "n_supp", "n_late"),
    )
    outer_spec = AcyclicQuerySpec(
        relations=(RelSpec("line"), RelSpec("view", join_on=("vk", "ok"))),
        residual=lambda: (F.col("late") == 1)
        & (F.col("n_supp") > 1)
        & (F.col("n_late") == 1),
        group_by=("sk",),
        measures={"numwait": lambda: F.lit(1)},
    )
    inner = _engine(spark, tmp_path, inner_spec)
    outer = _engine(spark, tmp_path, outer_spec)

    def step(rows):
        d = spark.createDataFrame(rows, LINE_SCHEMA)
        vd = inner.process_batch({"line": d}, emit_delta=True)
        deltas = {"line": d}
        if vd is not None:
            deltas["view"] = vd
        outer.process_batch(deltas)
        return {r["sk"]: r["numwait"] for r in outer.result().collect()}

    # order 1: suppliers 10 & 20 both late (blocked), 30 on time
    assert step([(1, 10, 1, 1), (1, 20, 1, 1), (1, 30, 0, 1)]) == {}
    # NOT-EXISTS flip: deleting 20's late line leaves 10 the ONLY late
    # supplier of a multi-supplier order -> 10 appears
    assert step([(1, 20, 1, -1)]) == {10: 1}
    # order 2: supplier 10 late but alone -> n_supp=1 blocks it
    assert step([(2, 10, 1, 1)]) == {10: 1}
    # EXISTS flip: an on-time sibling admits order 2's late line
    assert step([(2, 40, 0, 1)]) == {10: 2}
    # re-inserting a late sibling into order 1 retracts 10's order-1 row
    assert step([(1, 20, 1, 1)]) == {10: 1}


def test_spec_validation():
    import pytest

    with pytest.raises(ValueError, match="join_on=None"):
        AcyclicQuerySpec(
            relations=(RelSpec("a", join_on=("x", "y")),), group_by=("g",)
        )
    with pytest.raises(ValueError, match="needs join_on"):
        AcyclicQuerySpec(relations=(RelSpec("a"), RelSpec("b")), group_by=("g",))
    with pytest.raises(ValueError, match="duplicate"):
        AcyclicQuerySpec(
            relations=(RelSpec("a"), RelSpec("a", join_on=("x", "y"))), group_by=("g",)
        )
    with pytest.raises(ValueError, match="unknown kind"):
        AcyclicQuerySpec(
            relations=(RelSpec("a"),),
            group_by=("g",),
            hist_measures={"m": ("median", lambda: F.col("v"))},
        )
    with pytest.raises(ValueError, match="collide"):
        AcyclicQuerySpec(
            relations=(RelSpec("a"),),
            group_by=("g",),
            measures={"m": lambda: F.col("v")},
            hist_measures={"m": ("min", lambda: F.col("v"))},
        )


# --- round 6: manifest-field rollback on failure (in-process retry) ----------
def _fail_nth(obj, attr, n):
    """Monkeypatch obj.attr to raise on its n-th call (0-based), then behave
    normally — injects a failure at a chosen point inside process_batch."""
    real = getattr(obj, attr)
    calls = {"i": 0}

    def wrapper(*a, **k):
        i = calls["i"]
        calls["i"] += 1
        if i == n:
            raise RuntimeError("injected failure")
        return real(*a, **k)

    setattr(obj, attr, wrapper)
    return calls


def test_failed_batch_restores_manifest_fields_and_retry_is_exact(spark, tmp_path):
    """A batch that fails mid-flight (here: during a state write, after some
    segment maps were already mutated) must roll every manifest-persisted
    field back to its committed value, so a retry on the SAME engine instance
    re-runs against exactly the committed state — no double-counted segments,
    no skipped work. The manifest stays the single atomicity point for
    in-process retry, not just crash-restart."""
    eng = _engine(spark, tmp_path)
    eng.process_batch(
        {
            "fact": spark.createDataFrame([(0, 0, 10, 1)], FACT_SCHEMA),
            "dim1": spark.createDataFrame(DIM1, DIM1_SCHEMA),
            "dim2": spark.createDataFrame(DIM2, DIM2_SCHEMA),
        },
        batch_id=0,
    )
    committed = eng._snapshot()
    delta = [(1, 1, 7, 1), (0, 0, 10, 1)]
    # second _write_state call of the batch = the agg write — the fact
    # relation's segment map has already been mutated by then
    _fail_nth(eng, "_write_state", 1)
    import pytest

    with pytest.raises(RuntimeError, match="injected"):
        eng.process_batch(
            {"fact": spark.createDataFrame(delta, FACT_SCHEMA)}, batch_id=1
        )
    assert eng._snapshot() == committed  # full rollback, field for field
    # retry of the same batch on the same instance: exact result
    eng.process_batch(
        {"fact": spark.createDataFrame(delta, FACT_SCHEMA)}, batch_id=1
    )
    assert _result_map(eng.result()) == {("a0", "b0"): 20, ("a1", "b1"): 7}


def test_bucket_pruning_exact_across_numeric_type_families(spark, tmp_path):
    """An FK edge whose two sides pin DIFFERENT numeric families (int delta
    key probing a DECIMAL-keyed bucketed state) joins equal under Spark's
    coercion, but the width-stabilizing string cast of the bucket hash is
    only stable within a family (int 5 -> "5", DECIMAL(12,2) 5 -> "5.00") —
    the probe side must canonicalize to the state side's declared type or
    bucket pruning silently drops matching state rows."""
    spec = AcyclicQuerySpec(
        relations=(
            RelSpec("fact"),
            RelSpec("dim", join_on=("sk", "fk"), buckets=4, bucket_key=("sk",)),
        ),
        group_by=("dname",),
        measures={"total": lambda: F.col("fv")},
    )
    eng = _engine(spark, tmp_path, spec)
    dim_rows = spark.sql(
        "SELECT CAST(id AS DECIMAL(12,2)) AS sk, concat('d', id) AS dname, "
        "1 AS weight FROM range(4)"
    )
    eng.process_batch(
        {
            "fact": spark.createDataFrame([], "fk int, fv int, weight int"),
            "dim": dim_rows,
        },
        batch_id=0,
    )
    # fact delta probes the bucketed dim STATE: int fk 2 must reach the
    # DECIMAL(12,2) sk 2.00 bucket
    eng.process_batch(
        {
            "fact": spark.createDataFrame(
                [(2, 100, 1), (3, 7, 1)], "fk int, fv int, weight int"
            )
        },
        batch_id=1,
    )
    got = {r["dname"]: r["total"] for r in eng.result().collect()}
    assert got == {"d2": 100, "d3": 7}


# --- round 10: telescoped (factored) ΔJ over chain-shaped trees --------------
# A 3-level CHAIN (fact ← mid ← leaf in spec order, each relation's parent the
# previous one) — the shape the factorization targets (q10_spec is the 4-level
# instance). fact is bucketed so the shared upward join exercises the pruned
# state scan path.
CHAIN_FACT_SCHEMA = "k1 int, v int, weight int"
CHAIN_MID_SCHEMA = "m_k int, m_id int, weight int"
CHAIN_LEAF_SCHEMA = "l_m int, u int, weight int"

CHAIN_SPEC = AcyclicQuerySpec(
    relations=(
        RelSpec("fact", buckets=4, bucket_key=("k1",)),
        RelSpec("mid", join_on=("m_k", "k1")),
        RelSpec("leaf", join_on=("l_m", "m_id")),
    ),
    group_by=("k1",),
    measures={"total": lambda: F.col("v") * F.col("u")},
)


def _chain_batches(spark, ops):
    """ops: list of per-batch dicts rel -> rows."""
    schemas = {
        "fact": CHAIN_FACT_SCHEMA,
        "mid": CHAIN_MID_SCHEMA,
        "leaf": CHAIN_LEAF_SCHEMA,
    }
    return [
        {rel: spark.createDataFrame(rows, schemas[rel]) for rel, rows in b.items()}
        for b in ops
    ]


def _chain_result(df):
    return {r["k1"]: r["total"] for r in df.collect()}


def test_factored_chain_engages_and_matches_per_term(spark, tmp_path):
    """On a chain spec with ≥2 delta relations per batch, the factored path
    must ENGAGE (last_factored == 1) and produce byte-identical results to a
    factor_terms=False twin fed the same batches — the distributivity
    equivalence ΔJ = B_0, including deletes that retract through the shared
    upward join."""
    ops = [
        {  # batch 0: all three relations, duplicates included
            "fact": [(1, 10, 1), (2, 20, 1), (2, 20, 1), (3, 30, 1)],
            "mid": [(1, 100, 1), (2, 200, 1), (3, 300, 1)],
            "leaf": [(100, 5, 1), (200, 7, 1)],
        },
        {  # batch 1: deltas in two relations — sharing becomes possible
            "mid": [(3, 300, -1), (1, 101, 1)],
            "leaf": [(101, 2, 1), (300, 9, 1), (200, 7, -1)],
        },
        {  # batch 2: delete-before-insert + a fact retraction
            "fact": [(2, 20, -1), (4, 40, 1)],
            "leaf": [(100, 5, -1), (100, 6, 1)],
            "mid": [(4, 400, 1)],
        },
    ]
    eng_f = _engine(spark, tmp_path / "fact", CHAIN_SPEC)
    eng_p = _engine(spark, tmp_path / "per_term", CHAIN_SPEC)
    eng_p.factor_terms = False
    for b in _chain_batches(spark, ops):
        eng_f.process_batch({k: v for k, v in b.items()})
    for b in _chain_batches(spark, ops):
        eng_p.process_batch({k: v for k, v in b.items()})
    # batches 1 and 2 have ≥2 delta relations → factored path must have run
    assert eng_f.last_factored == 1
    assert eng_p.last_factored == 0
    assert _chain_result(eng_f.result()) == _chain_result(eng_p.result())
    assert _chain_result(eng_f.result())  # non-trivial


CHAIN_OPS = st.lists(
    st.tuples(
        st.sampled_from(["fact", "mid", "leaf"]),
        st.integers(1, 3),
        st.integers(1, 4),
        st.sampled_from([1, -1]),
    ),
    min_size=0,
    max_size=14,
)


@full_tier_only
@settings(max_examples=prop_examples(6), deadline=None, suppress_health_check=list(HealthCheck))
@given(ops=CHAIN_OPS, split=st.integers(0, 14))
def test_factored_chain_prefix_closure_any_split(spark, tmp_path_factory, ops, split):
    """Factored engine == per-term engine for ANY batch split hypothesis
    chooses over a chain spec (rows keyed so every op lands on a live FK
    path; weights net arbitrarily, including negative-first)."""
    tmp = tmp_path_factory.mktemp("fchain")

    def rows_of(op):
        rel, a, b, w = op
        if rel == "fact":
            return "fact", (a, 10 * a + b, w)
        if rel == "mid":
            return "mid", (a, 100 * a, w)
        return "leaf", (100 * a, b, w)

    split = min(split, len(ops))
    batches = []
    for half in (ops[:split], ops[split:]):
        byrel = {"fact": [], "mid": [], "leaf": []}
        for op in half:
            rel, row = rows_of(op)
            byrel[rel].append(row)
        batches.append({rel: rows for rel, rows in byrel.items()})
    dfs = _chain_batches(spark, batches)
    eng_f = _engine(spark, tmp, CHAIN_SPEC)
    eng_p = _engine(spark, tmp, CHAIN_SPEC)
    eng_p.factor_terms = False
    for b in dfs:
        eng_f.process_batch(b)
    for b in dfs:
        eng_p.process_batch(b)
    assert _chain_result(eng_f.result()) == _chain_result(eng_p.result())


CHAIN_GATE_SCHEMA = "g_m int, tag int, weight int"


def _gated_chain_spec(anti: bool):
    """fact ← mid ← gate chain with the gate as an EXISTS / NOT-EXISTS leaf:
    the factored path must telescope BOTH inclusion–exclusion virtual trees
    ((fact, mid) and (fact, mid, gate-as-presence), the latter sign-flipped
    for anti) and match the per-term engine exactly."""
    return AcyclicQuerySpec(
        relations=(
            RelSpec("fact", buckets=4, bucket_key=("k1",)),
            RelSpec("mid", join_on=("m_k", "k1")),
            RelSpec("gate", join_on=("g_m", "m_id"), semi=not anti, anti=anti),
        ),
        group_by=("k1",),
        measures={"total": lambda: F.col("v")},
    )


def _gated_chain_total(df):
    return {r["k1"]: r["total"] for r in df.collect()}


def _run_gated_chain(spark, tmp_path, anti: bool):
    ops = [
        {
            "fact": [(1, 10, 1), (2, 20, 1), (3, 30, 1)],
            "mid": [(1, 100, 1), (2, 200, 1), (3, 300, 1)],
            "gate": [(100, 0, 1), (100, 1, 1), (200, 0, 1)],
        },
        {  # presence flips both ways + a fact retraction, multi-delta batch
            "gate": [(100, 0, -1), (200, 0, -1), (300, 0, 1)],
            "fact": [(2, 20, -1), (2, 21, 1)],
        },
        {  # last-copy delete (100 drains), duplicate insert elsewhere
            "gate": [(100, 1, -1), (300, 0, 1)],
            "mid": [(1, 101, 1)],
        },
    ]
    schemas = {
        "fact": CHAIN_FACT_SCHEMA,
        "mid": CHAIN_MID_SCHEMA,
        "gate": CHAIN_GATE_SCHEMA,
    }
    results = []
    for factor in (True, False):
        eng = _engine(spark, tmp_path / f"g{int(anti)}{int(factor)}",
                      _gated_chain_spec(anti))
        eng.factor_terms = factor
        for b in ops:
            eng.process_batch(
                {r: spark.createDataFrame(rows, schemas[r]) for r, rows in b.items()}
            )
        results.append((_gated_chain_total(eng.result()), eng.last_factored))
    return results


@full_tier_only
def test_factored_chain_semi_gate_matches_per_term(spark, tmp_path):
    (res_f, nf), (res_p, np_) = _run_gated_chain(spark, tmp_path, anti=False)
    assert nf >= 1 and np_ == 0
    assert res_f == res_p
    assert res_f  # non-trivial


@full_tier_only
def test_factored_chain_anti_gate_matches_per_term(spark, tmp_path):
    """Anti gates expand by inclusion–exclusion: the factored path must
    telescope the sign-flipped semi-tree too (both vlists are chains)."""
    (res_f, nf), (res_p, np_) = _run_gated_chain(spark, tmp_path, anti=True)
    assert nf >= 1 and np_ == 0
    assert res_f == res_p
    assert res_f  # non-trivial


def test_factored_path_reorders_branching_tree(spark, tmp_path):
    """A spec whose ORDER is not a chain walk but whose tree IS a path
    (dim1–fact–dim2: two leaves hanging off the root) must still factor —
    the enumeration reorders along the Hamiltonian path, valid because the
    telescoping nets to J(new) − J(old) in any order. Results must match
    the per-term twin exactly, deletes included."""
    spec = AcyclicQuerySpec(
        relations=(
            RelSpec("fact", buckets=4, bucket_key=("k1",)),
            RelSpec("dim1", join_on=("d1", "k1")),
            RelSpec("dim2", join_on=("d2", "k2")),
        ),
        group_by=("name1", "name2"),
        measures={"total": lambda: F.col("v")},
    )
    ops = [
        {
            "fact": [(0, 1, 10, 1), (1, 2, 20, 1), (2, 0, 30, 1)],
            "dim1": [(i, f"a{i}", 1) for i in range(3)],
            "dim2": [(i, f"b{i}", 1) for i in range(3)],
        },
        {  # multi-delta batch with retractions through both branches
            "fact": [(0, 1, 10, -1), (0, 1, 11, 1)],
            "dim1": [(1, "a1", -1)],
            "dim2": [(3, "b3", 1)],
        },
    ]
    schemas = {
        "fact": "k1 int, k2 int, v int, weight int",
        "dim1": DIM1_SCHEMA,
        "dim2": DIM2_SCHEMA,
    }
    results = []
    for factor in (True, False):
        eng = _engine(spark, tmp_path / f"r{int(factor)}", spec)
        eng.factor_terms = factor
        for b in ops:
            eng.process_batch(
                {r: spark.createDataFrame(rows, schemas[r]) for r, rows in b.items()}
            )
        results.append(
            ({(r["name1"], r["name2"]): r["total"] for r in eng.result().collect()},
             eng.last_factored)
        )
    (res_f, nf), (res_p, np_) = results
    assert nf == 1 and np_ == 0  # reordered path engaged
    assert res_f == res_p
    assert res_f


STAR_SPEC = AcyclicQuerySpec(
    relations=(
        RelSpec("fact", buckets=4, bucket_key=("k1",)),
        RelSpec("dim1", join_on=("d1", "k1")),
        RelSpec("dim2", join_on=("d2", "k2")),
        RelSpec("dim3", join_on=("d3", "k3")),
    ),
    group_by=("name1",),
    measures={"total": lambda: F.col("v")},
)
STAR_SCHEMAS = {
    "fact": "k1 int, k2 int, k3 int, v int, weight int",
    "dim1": DIM1_SCHEMA,
    "dim2": DIM2_SCHEMA,
    "dim3": "d3 int, name3 string, weight int",
}


@full_tier_only
def test_factored_tree_engages_on_degree3_star(spark, tmp_path):
    """Three leaves off one root: no Hamiltonian path exists, but the
    leaf-peeling enumeration (round 11) still keeps every suffix connected,
    so the factored path must now ENGAGE (round 10 declined this shape) and
    match the per-term twin exactly — including a multi-batch tail with
    deletes retracting through every branch of the star."""
    ops = [
        {
            "fact": [(0, 0, 0, 5, 1), (1, 1, 1, 7, 1), (2, 0, 1, 11, 1)],
            "dim1": DIM1,
            "dim2": DIM2,
            "dim3": [(i, f"c{i}", 1) for i in range(3)],
        },
        {  # deltas on all three branches + the center, with retractions
            "fact": [(0, 0, 0, 5, -1), (0, 0, 0, 6, 1)],
            "dim1": [(2, "a2", -1)],
            "dim2": [(3, "b3", 1)],
            "dim3": [(1, "c1", -1), (1, "c1x", 1)],
        },
        {  # center-only churn against settled dims
            "fact": [(1, 1, 1, 7, -1), (1, 3, 1, 9, 1)],
            "dim2": [(3, "b3", -1)],
        },
    ]
    results = []
    for factor in (True, False):
        eng = _engine(spark, tmp_path / f"st{int(factor)}", STAR_SPEC)
        eng.factor_terms = factor
        for b in ops:
            eng.process_batch(
                {
                    r: spark.createDataFrame(rows, STAR_SCHEMAS[r])
                    for r, rows in b.items()
                }
            )
        results.append(
            ({r["name1"]: r["total"] for r in eng.result().collect()},
             eng.last_factored)
        )
    (res_f, nf), (res_p, np_) = results
    assert nf == 1 and np_ == 0  # degree-3 star factored (round-11 claim)
    assert res_f == res_p
    assert res_f  # non-trivial


def test_factored_tree_engages_on_branched_chain(spark, tmp_path):
    """Degree-3 INTERNAL node with a depth-2 branch (the Q2-ish shape:
    fact ← mid ← leaf chain plus two dims off fact): the leaf-peeling
    enumeration must factor it and match the per-term twin, deletes
    included — the shape where one branch is itself a chain, so B unions
    cross a multi-relation subtree boundary."""
    spec = AcyclicQuerySpec(
        relations=(
            RelSpec("fact", buckets=4, bucket_key=("k1",)),
            RelSpec("mid", join_on=("m_k", "k1")),
            RelSpec("leaf", join_on=("l_m", "m_id")),
            RelSpec("dim2", join_on=("d2", "k2")),
            RelSpec("dim3", join_on=("d3", "k3")),
        ),
        group_by=("name2",),
        measures={"total": lambda: F.col("v") * F.col("u")},
    )
    schemas = {
        "fact": "k1 int, k2 int, k3 int, v int, weight int",
        "mid": CHAIN_MID_SCHEMA,
        "leaf": CHAIN_LEAF_SCHEMA,
        "dim2": DIM2_SCHEMA,
        "dim3": "d3 int, name3 string, weight int",
    }
    ops = [
        {
            "fact": [(1, 0, 0, 10, 1), (2, 1, 1, 20, 1), (3, 2, 0, 30, 1)],
            "mid": [(1, 100, 1), (2, 200, 1), (3, 300, 1)],
            "leaf": [(100, 5, 1), (200, 7, 1), (300, 2, 1)],
            "dim2": DIM2,
            "dim3": [(i, f"c{i}", 1) for i in range(3)],
        },
        {  # deltas across the chain branch AND a star leaf
            "leaf": [(100, 5, -1), (100, 6, 1), (200, 7, -1)],
            "mid": [(2, 201, 1)],
            "dim2": [(1, "b1", -1), (1, "b1x", 1)],
        },
        {  # center retraction + deep-leaf churn
            "fact": [(3, 2, 0, 30, -1)],
            "leaf": [(201, 4, 1), (300, 2, -1)],
        },
    ]
    results = []
    for factor in (True, False):
        eng = _engine(spark, tmp_path / f"bc{int(factor)}", spec)
        eng.factor_terms = factor
        for b in ops:
            eng.process_batch(
                {r: spark.createDataFrame(rows, schemas[r]) for r, rows in b.items()}
            )
        results.append(
            ({r["name2"]: r["total"] for r in eng.result().collect()},
             eng.last_factored)
        )
    (res_f, nf), (res_p, np_) = results
    assert nf >= 1 and np_ == 0
    assert res_f == res_p
    assert res_f


STAR_OPS = st.lists(
    st.tuples(
        st.sampled_from(["fact", "dim1", "dim2", "dim3"]),
        st.integers(0, 2),
        st.integers(1, 4),
        st.sampled_from([1, -1]),
    ),
    min_size=0,
    max_size=14,
)


@full_tier_only
@settings(max_examples=prop_examples(6), deadline=None, suppress_health_check=list(HealthCheck))
@given(ops=STAR_OPS, split=st.integers(0, 14))
def test_factored_tree_star_prefix_closure_any_split(
    spark, tmp_path_factory, ops, split
):
    """Factored engine == per-term engine for ANY batch split hypothesis
    chooses over the degree-3 STAR spec (the round-11 shape; rows keyed so
    every op lands on a live FK path, weights net arbitrarily)."""
    tmp = tmp_path_factory.mktemp("fstar")

    def rows_of(op):
        rel, a, b, w = op
        if rel == "fact":
            return "fact", (a, (a + b) % 3, (a + 2 * b) % 3, 10 * a + b, w)
        if rel == "dim1":
            return "dim1", (a, f"a{a}", w)
        if rel == "dim2":
            return "dim2", (a, f"b{a}", w)
        return "dim3", (a, f"c{a}", w)

    split = min(split, len(ops))
    batches = []
    for half in (ops[:split], ops[split:]):
        byrel = {"fact": [], "dim1": [], "dim2": [], "dim3": []}
        for op in half:
            rel, row = rows_of(op)
            byrel[rel].append(row)
        batches.append(byrel)
    dfs = [
        {r: spark.createDataFrame(rows, STAR_SCHEMAS[r]) for r, rows in b.items()}
        for b in batches
    ]
    eng_f = _engine(spark, tmp, STAR_SPEC)
    eng_p = _engine(spark, tmp, STAR_SPEC)
    eng_p.factor_terms = False
    for b in dfs:
        eng_f.process_batch(b)
    for b in dfs:
        eng_p.process_batch(b)
    got_f = {r["name1"]: r["total"] for r in eng_f.result().collect()}
    got_p = {r["name1"]: r["total"] for r in eng_p.result().collect()}
    assert got_f == got_p


@settings(max_examples=prop_examples(5), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    # parents[i] ∈ [0, i] assigns relation i+1's tree parent among the
    # relations before it — every acyclic tree shape on 5 nodes arises,
    # including paths, flat stars, and branched chains
    parents=st.tuples(*(st.integers(0, i) for i in range(4))),
    ops=st.lists(
        st.tuples(
            st.integers(0, 4),  # relation index
            st.integers(1, 3),  # key value
            st.integers(1, 5),  # payload
            st.sampled_from([1, -1]),
        ),
        min_size=2,
        max_size=16,
    ),
    split=st.integers(0, 16),
)
def test_factored_random_tree_shapes_match_per_term(
    spark, tmp_path_factory, parents, ops, split
):
    """The strongest pin of the leaf-peeling generalization: hypothesis
    draws a RANDOM 5-relation tree shape (any parent assignment — paths,
    stars, branched chains), random weighted ops, and a random batch
    split; the factored engine must equal the per-term twin exactly.
    Relation 0 is the root carrying the measure; relation i joins its
    parent on the parent's dedicated child-key column."""
    n = 5
    # rel i (i>0) joins parent p via p's column c{p}{i} == own column j{i};
    # root rows carry one child-key column per possible child plus v
    kid_cols = {p: [i for i in range(1, n) if parents[i - 1] == p] for p in range(n)}

    def schema_of(rel):
        cols = [f"c_{rel}_{k} int" for k in kid_cols[rel]]
        if rel == 0:
            return ", ".join(["j_0 int, v int"] + cols + ["weight int"])
        return ", ".join([f"j_{rel} int"] + cols + ["weight int"])

    relspecs = [RelSpec("r0")]
    for i in range(1, n):
        relspecs.append(
            RelSpec(f"r{i}", join_on=(f"j_{i}", f"c_{parents[i - 1]}_{i}"))
        )
    spec = AcyclicQuerySpec(
        relations=tuple(relspecs),
        group_by=("j_0",),
        measures={"total": lambda: F.col("v")},
    )

    def row_of(rel, key, payload, w):
        # child-key columns are derived deterministically from (rel, key)
        # so matching rows exist across relations with high probability
        kids = [((key + k) % 3) + 1 for k in kid_cols[rel]]
        if rel == 0:
            return tuple([key, payload] + kids + [w])
        return tuple([key] + kids + [w])

    split = min(split, len(ops))
    batches = []
    for half in (ops[:split], ops[split:]):
        byrel = {f"r{i}": [] for i in range(n)}
        for rel, key, payload, w in half:
            byrel[f"r{rel}"].append(row_of(rel, key, payload, w))
        batches.append(byrel)
    tmp = tmp_path_factory.mktemp("ftree")
    results = []
    for factor in (True, False):
        eng = _engine(spark, tmp, spec)
        eng.factor_terms = factor
        for b in batches:
            eng.process_batch(
                {
                    rel: spark.createDataFrame(rows, schema_of(int(rel[1:])))
                    for rel, rows in b.items()
                }
            )
        results.append({r["j_0"]: r["total"] for r in eng.result().collect()})
    assert results[0] == results[1]


def test_merge_engine_resumed_log_structured_continues_exactly(spark, tmp_path):
    """A merge-mode stream resumed mid-stream with compact_every=3 continues
    exactly: every prefix equals a merge-mode twin's, appended versions
    accumulate on top of the netted merge-mode version, and the third
    log-structured batch, with no append slot left, nets them back to one
    version (linearity: the regimes differ only in when versions are
    netted)."""
    ops = []
    for i in range(4):
        batch = {
            "fact": [(i % 3 + 1, 10 * i + 1, 1)],
            "mid": [(i % 3 + 1, 100 + i, 1)],
            "leaf": [(100 + i, i % 4 + 1, 1)],
        }
        if i >= 2:  # retract the leaf row inserted two batches earlier
            batch["leaf"].append((100 + (i - 2), (i - 2) % 4 + 1, -1))
        ops.append(batch)
    dfs = _chain_batches(spark, ops)
    sdir = str(tmp_path / "switch")
    eng = IncrementalAcyclicQuery(spark, sdir, CHAIN_SPEC)
    twin = IncrementalAcyclicQuery(spark, str(tmp_path / "merge"), CHAIN_SPEC)
    for i, b in enumerate(dfs):
        if i == 1:
            eng = IncrementalAcyclicQuery(
                spark, sdir, CHAIN_SPEC, compact_every=3, resume=True
            )
            assert len(eng._segments["leaf"]) == 1 and eng._netted("leaf")
        eng.process_batch(b, batch_id=i)
        twin.process_batch(b, batch_id=i)
        assert _chain_result(eng.result()) == _chain_result(twin.result())
        if i == 2:  # two appended versions on top of the merge-mode version
            assert len(eng._segments["leaf"]) == 3 and not eng._netted("leaf")
            assert len(eng._segments["agg"]) == 3 and not eng._netted("agg")
    # three live versions left no append slot: one netted version again
    for rel in ("leaf", "agg"):
        assert len(eng._segments[rel]) == 1 and eng._netted(rel)
    assert _chain_result(eng.result())  # non-trivial


def test_one_commit_rule_nets_first_and_writes_each_state_once(spark, tmp_path):
    """compact_every=3 follows the same commit rule as merge mode: the first
    batch nets each state into ONE physically netted version (a duplicate
    row summed, a +1/-1 pair gone), the next two batches append, and the
    fourth — no append slot left — nets every live version with its delta
    in ONE write per state, one job per ``state_write:<rel>`` phase rather
    than an append followed by a compaction. Every prefix's result equals a
    compact_every=1 twin's."""
    ops = [
        {
            "fact": [(1, 10, 1), (1, 10, 1), (2, 20, 1), (3, 7, 1), (3, 7, -1)],
            "mid": [(1, 100, 1), (2, 101, 1), (2, 101, 1)],
            "leaf": [(100, 1, 1), (101, 2, 1), (101, 5, 1), (101, 5, -1)],
        }
    ] + [
        {
            "fact": [(i, 5 * i, 1)],
            "mid": [(i, 100 + i % 2, 1)],
            "leaf": [(100 + i % 2, i, 1)] + ([(100, 1, -1)] if i == 3 else []),
        }
        for i in (1, 2, 3)
    ]
    dfs = _chain_batches(spark, ops)
    eng = IncrementalAcyclicQuery(spark, str(tmp_path / "k3"), CHAIN_SPEC, compact_every=3)
    twin = IncrementalAcyclicQuery(spark, str(tmp_path / "k1"), CHAIN_SPEC)
    rels = ("fact", "mid", "leaf")
    for i, b in enumerate(dfs):
        eng.instrument = i == 3
        eng.process_batch(b, batch_id=i)
        twin.process_batch(b, batch_id=i)
        assert _chain_result(eng.result()) == _chain_result(twin.result()), i
        live = {rel: len(eng._segments[rel]) for rel in (*rels, "agg")}
        assert live == dict.fromkeys(live, [1, 2, 3, 1][i]), (i, live)
        if i == 0:  # one physically netted version per state
            for rel in rels:
                st = eng._read_state(rel)
                assert st.count() == st.drop("weight").distinct().count(), rel
                assert st.filter("weight = 0").count() == 0, rel
            fact = eng._read_state("fact").select("k1", "v", "weight").collect()
            assert {tuple(r) for r in fact} == {(1, 10, 2), (2, 20, 1)}
    for rel in rels:
        assert eng.last_profile[f"state_write:{rel}"]["jobs"] == 1, eng.last_profile
    assert _chain_result(eng.result())  # non-trivial
