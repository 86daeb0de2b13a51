"""Round-5 scale features of the generic IVM engine (streaming/acyclic.py):

- BUCKETED STATE: a relation with ``buckets``/``bucket_key`` persists its
  state hash-partitioned on a ``_bucket`` parquet partition column; a term
  probing it directly from a delta prunes the state scan to the delta's
  bucket ids — per-batch state IO tracks Δ's key spread, not state size.
  Checked two ways: result equivalence against the unbucketed engine AND the
  pruning itself (the term plan carries a ``_bucket`` partition filter with
  strictly fewer bucket ids than the relation has buckets).
- PERSISTED EMITTED CHANGELOG: a crash-replayed ``emit_delta`` batch returns
  the batch's persisted view delta instead of None, so chained engines /
  sinks recover exactly-once ACROSS the chain, not just per engine.
- Empty batches still advance ``last_batch`` (manifest stays aligned with the
  stream's committed offsets), and the anti-gate inclusion–exclusion blowup
  is guarded at spec construction.
"""

from __future__ import annotations

import json
import uuid
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from flink_and_acyclic_schema_spark.planstats import plan_string
from flink_and_acyclic_schema_spark.streaming.acyclic import (
    AcyclicQuerySpec,
    IncrementalAcyclicQuery,
    RelSpec,
)

ORD_SCHEMA = "o_key int, o_cust int, weight int"
LI_SCHEMA = "l_key int, l_qty int, weight int"
CUST_SCHEMA = "c_key int, c_name string, weight int"


def _spec(li_extra=None, cust_extra=None):
    """3-relation path: customer <- orders <- lineitem, SUM(l_qty) by name."""
    return AcyclicQuerySpec(
        relations=(
            RelSpec("orders"),
            RelSpec("customer", join_on=("c_key", "o_cust"), **(cust_extra or {})),
            RelSpec("lineitem", join_on=("l_key", "o_key"), **(li_extra or {})),
        ),
        group_by=("c_name",),
        measures={"qty": lambda: F.col("l_qty")},
    )


CUST = [(i, f"c{i}", 1) for i in range(4)]


def _engine(spark, tmp_path, spec, **kw):
    return IncrementalAcyclicQuery(
        spark, str(tmp_path / f"s{uuid.uuid4().hex[:8]}"), spec, **kw
    )


def _feed(spark, eng, batches):
    for i, (orders, lineitem) in enumerate(batches):
        deltas = {
            "orders": spark.createDataFrame(orders or [], ORD_SCHEMA),
            "lineitem": spark.createDataFrame(lineitem or [], LI_SCHEMA),
        }
        if i == 0:
            deltas["customer"] = spark.createDataFrame(CUST, CUST_SCHEMA)
        eng.process_batch(deltas, batch_id=i)
    return sorted(tuple(r) for r in eng.result().collect())


BATCHES = [
    # batch 0: bulk state — orders spread over keys, lineitems over orders
    (
        [(o, o % 4, 1) for o in range(40)],
        [(o, o + 1, 1) for o in range(40)],
    ),
    # batch 1: small delta — 2 orders incl. a delete, lineitem dup + delete
    (
        [(1, 1, -1), (40, 2, 1)],
        [(40, 7, 1), (3, 4, -1), (5, 6, 1)],
    ),
]


def test_bucketed_state_equivalent(spark, tmp_path):
    plain = _feed(spark, _engine(spark, tmp_path, _spec()), BATCHES)
    bucketed = _feed(
        spark,
        _engine(
            spark,
            tmp_path,
            _spec(li_extra={"buckets": 8, "bucket_key": ("l_key",)}),
        ),
        BATCHES,
    )
    assert bucketed == plain and plain  # non-trivial result


def test_bucketed_state_log_structured_equivalent(spark, tmp_path):
    plain = _feed(spark, _engine(spark, tmp_path, _spec()), BATCHES)
    bucketed = _feed(
        spark,
        _engine(
            spark,
            tmp_path,
            _spec(li_extra={"buckets": 8, "bucket_key": ("l_key",)}),
            compact_every=4,
        ),
        BATCHES,
    )
    assert bucketed == plain and plain


def _files_read(df):
    """Files ACTUALLY read by executing df — the executed plan's per-scan
    ``numFiles`` metric (post partition pruning; ``inputFiles()`` would list
    the whole file index regardless of pruning)."""
    df.collect()
    sp = df._jdf.queryExecution().executedPlan()
    leaves = sp.collectLeaves()
    total = 0
    for i in range(leaves.size()):
        mm = leaves.apply(i).metrics()
        if mm.contains("numFiles"):
            total += mm.apply("numFiles").value()
    return total


def test_bucket_pruning_reaches_the_state_scan(spark, tmp_path):
    """The delta-probed term must read only the delta's bucket partitions:
    the term plan carries a ``_bucket`` PartitionFilter, and the pruned scan
    READS strictly fewer files than the full bucketed state."""
    spec = _spec(li_extra={"buckets": 8, "bucket_key": ("l_key",)})
    eng = _engine(spark, tmp_path, spec)
    # the r11 cost-based gate would (correctly) skip pruning a 40-row state;
    # this test pins the pruning MACHINERY, so engage it unconditionally
    eng.PRUNE_MIN_STATE_ROWS = 0
    _feed(spark, eng, BATCHES[:1])  # seed 40-order state across buckets
    # one-order delta: its l_key probe set covers exactly one bucket
    delta = eng._conform(
        "orders", spark.createDataFrame([(7, 3, 1)], ORD_SCHEMA)
    ).localCheckpoint()
    versions = {
        "orders": delta,
        "customer": eng._read_state("customer"),
        "lineitem": eng._read_state("lineitem"),
    }
    tree = eng._tree({n: df.columns for n, df in versions.items()})
    term = eng._join_chain(versions, spec.relations, "orders", tree, bucket_memo={})
    plan = plan_string(term)
    assert "PartitionFilters" in plan and "_bucket" in plan
    # the delta's probe KEYS are pushed into the parquet scan too (In filter
    # against the key-sorted bucket files -> page/rowgroup pruning)
    assert "PushedFilters" in plan
    assert "In(l_key" in plan or "EqualTo(l_key,7)" in plan  # 1-value In folds
    full = _files_read(eng._read_state("lineitem"))
    memo: dict = {}
    ids, key_vals = eng._probe_pruning(
        delta, spec.relations[2], ("o_key",), memo, ("lineitem", ("o_key",))
    )
    assert len(ids) == 1
    assert key_vals == ([7],)  # the single probed order key
    pruned = _files_read(
        eng._read_state("lineitem").filter(F.col("_bucket").isin(ids))
    )
    assert 0 < pruned < full


def test_transitive_pruning_reaches_two_hop_state(spark, tmp_path):
    """A delta on customer probes lineitem only THROUGH orders (2 tree hops):
    the engine prunes lineitem's scan from the accumulated Δcustomer⋈orders
    join's order keys — the term plan carries lineitem's PartitionFilter and
    pushed key filter, and results equal the unbucketed engine."""
    spec = AcyclicQuerySpec(
        relations=(
            RelSpec("customer"),
            RelSpec("orders", join_on=("o_cust", "c_key")),
            RelSpec(
                "lineitem",
                join_on=("l_key", "o_key"),
                buckets=8,
                bucket_key=("l_key",),
            ),
        ),
        group_by=("c_name",),
        measures={"qty": lambda: F.col("l_qty")},
    )
    eng = _engine(spark, tmp_path, spec)
    eng.PRUNE_MIN_STATE_ROWS = 0  # pin the pruning machinery (r11 gate)
    eng.process_batch(
        {
            "customer": spark.createDataFrame(CUST, CUST_SCHEMA),
            "orders": spark.createDataFrame(
                [(o, o % 4, 1) for o in range(40)], ORD_SCHEMA
            ),
            "lineitem": spark.createDataFrame(
                [(o, o + 1, 1) for o in range(40)], LI_SCHEMA
            ),
        },
        batch_id=0,
    )
    # customer delta: 1 customer -> ~10 orders -> their lineitem buckets only
    delta = eng._conform(
        "customer", spark.createDataFrame([(2, "c2", 1)], CUST_SCHEMA)
    ).localCheckpoint()
    versions = {
        "customer": delta,
        "orders": eng._read_state("orders"),
        "lineitem": eng._read_state("lineitem"),
    }
    tree = eng._tree({n: df.columns for n, df in versions.items()})
    plan = plan_string(eng._join_chain(versions, spec.relations, "customer", tree))
    assert "PartitionFilters" in plan and "_bucket" in plan
    assert "In(l_key" in plan or "EqualTo(l_key" in plan
    # and the full stream stays oracle-equal to the unbucketed run
    plain_spec = AcyclicQuerySpec(
        relations=(
            RelSpec("customer"),
            RelSpec("orders", join_on=("o_cust", "c_key")),
            RelSpec("lineitem", join_on=("l_key", "o_key")),
        ),
        group_by=("c_name",),
        measures={"qty": lambda: F.col("l_qty")},
    )
    eng2 = _engine(spark, tmp_path, plain_spec)
    batches = [
        ([(o, o % 4, 1) for o in range(40)], [(o, o + 1, 1) for o in range(40)]),
        ([(3, 3, -1), (40, 1, 1)], [(40, 9, 1), (5, 6, -1)]),
    ]

    def feed(e):
        for i, (orders, lineitem) in enumerate(batches):
            d = {
                "orders": spark.createDataFrame(orders, ORD_SCHEMA),
                "lineitem": spark.createDataFrame(lineitem, LI_SCHEMA),
            }
            if i == 0:
                d["customer"] = spark.createDataFrame(CUST, CUST_SCHEMA)
            e.process_batch(d, batch_id=i + 1)
        return sorted(tuple(r) for r in e.result().collect())

    assert feed(_engine(spark, tmp_path, spec)) == feed(eng2)


def test_bucketed_semi_gate_equivalent(spark, tmp_path):
    """A bucketed EXISTS gate: the presence view carries ``_bucket`` (key-
    determined), so gate state reads prune too — and multiplicity semantics
    are unchanged (duplicate children never double-count)."""

    def gate_spec(**li):
        return AcyclicQuerySpec(
            relations=(
                RelSpec("orders"),
                RelSpec("customer", join_on=("c_key", "o_cust")),
                RelSpec("lineitem", join_on=("l_key", "o_key"), semi=True, **li),
            ),
            group_by=("c_name",),
            measures={"n": lambda: F.lit(1)},
        )

    batches = [
        ([(o, o % 4, 1) for o in range(12)], [(o, 0, 1) for o in range(0, 12, 2)]),
        ([(3, 3, -1)], [(0, 0, 1), (2, 0, -1), (4, 0, -1), (4, 0, -1)]),
    ]
    plain = _feed(spark, _engine(spark, tmp_path, gate_spec()), batches)
    bucketed = _feed(
        spark,
        _engine(
            spark, tmp_path, gate_spec(buckets=4, bucket_key=("l_key",))
        ),
        batches,
    )
    assert bucketed == plain and plain


def test_emitted_changelog_survives_crash_replay(spark, tmp_path):
    """Chain recovery: inner engine commits batch 1 (emit_delta), then the
    driver 'crashes' before the outer engine commits. On resume the stream
    redelivers batch 1; the replayed inner engine must return the SAME view
    delta (from its manifest-committed parquet), not None — so the outer
    engine catches up instead of silently diverging."""
    sdir = str(tmp_path / "inner")
    spec = _spec()
    inner = IncrementalAcyclicQuery(spark, sdir, spec)

    def deltas(i):
        orders, lineitem = BATCHES[i]
        d = {
            "orders": spark.createDataFrame(orders, ORD_SCHEMA),
            "lineitem": spark.createDataFrame(lineitem, LI_SCHEMA),
        }
        if i == 0:
            d["customer"] = spark.createDataFrame(CUST, CUST_SCHEMA)
        return d

    inner.process_batch(deltas(0), batch_id=0, emit_delta=True)
    live = inner.process_batch(deltas(1), batch_id=1, emit_delta=True)
    expect = sorted(map(tuple, live.collect()))

    # crash: re-open from disk, stream redelivers batch 1
    resumed = IncrementalAcyclicQuery(spark, sdir, spec, resume=True)
    replay = resumed.process_batch(deltas(1), batch_id=1, emit_delta=True)
    assert replay is not None
    assert sorted(map(tuple, replay.collect())) == expect
    # an older batch is unrecoverable by design -> None (documented)
    assert resumed.process_batch(deltas(0), batch_id=0, emit_delta=True) is None
    # and net-applying the changelog to the batch-0 view equals the live view
    assert {tuple(r) for r in resumed.result().collect()} == {
        tuple(r) for r in IncrementalAcyclicQuery(spark, sdir, spec, resume=True).result().collect()
    }


def test_resumed_replay_reads_emitted_changelog_without_job(spark, tmp_path):
    """A resumed engine replaying an ``emit_delta`` batch hands back the
    persisted changelog read with the schema its manifest recorded: the
    committed rows, and building the frame launches no Spark job (no
    parquet schema inference)."""
    import time

    sdir = str(tmp_path / "inner")
    inner = IncrementalAcyclicQuery(spark, sdir, _spec())
    orders0, lineitem0 = BATCHES[0]
    inner.process_batch(
        {
            "orders": spark.createDataFrame(orders0, ORD_SCHEMA),
            "lineitem": spark.createDataFrame(lineitem0, LI_SCHEMA),
            "customer": spark.createDataFrame(CUST, CUST_SCHEMA),
        },
        batch_id=0,
    )
    orders1, lineitem1 = BATCHES[1]
    d1 = {
        "orders": spark.createDataFrame(orders1, ORD_SCHEMA),
        "lineitem": spark.createDataFrame(lineitem1, LI_SCHEMA),
    }
    want = sorted(map(tuple, inner.process_batch(d1, batch_id=1, emit_delta=True).collect()))
    assert want

    resumed = IncrementalAcyclicQuery(spark, sdir, _spec(), resume=True)
    sc = spark.sparkContext
    gid = f"replay_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(gid, "resumed replay")
    try:
        got = resumed.process_batch(d1, batch_id=1, emit_delta=True)
        # one-job sentinel: the status listener sees jobs in submission
        # order, so once it shows up every earlier job of the group has too
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(gid) and time.monotonic() < deadline:
        time.sleep(0.05)
    assert len(tracker.getJobIdsForGroup(gid)) == 1
    assert sorted(map(tuple, got.collect())) == want


def test_lazy_pre_view_reads_swapped_out_files(spark, tmp_path):
    """The pre-batch view of an ``emit_delta`` batch is a lazy plan that
    executes inside the emit stage, after the commit wave has swapped the
    live state to new files. Log-structured state with ``compact_every=2``
    makes batches 2 and 4 compact bucketed lineitem; on every batch the
    changelog, summed per row, equals ``result()`` after the batch minus
    ``result()`` before it. The last batch has no ``batch_id`` (the
    in-memory changelog)."""
    from collections import Counter

    spec = _spec(li_extra={"buckets": 2, "bucket_key": ("l_key",)})
    eng = _engine(spark, tmp_path, spec, compact_every=2)
    batches = [
        ([(o, o % 4, 1) for o in range(20)], [(o, o + 1, 1) for o in range(20)]),
        ([(1, 1, -1), (20, 2, 1)], [(20, 7, 1), (3, 4, -1)]),
        ([], [(5, 6, 1)]),
        ([(o, o % 4, 1) for o in range(21, 26)], [(o, 1, 1) for o in range(21, 26)]),
        ([(2, 2, -1)], [(o, 2, 1) for o in range(26, 31)]),
    ]
    layout = []
    for i, (orders, lineitem) in enumerate(batches):
        deltas = {
            "orders": spark.createDataFrame(orders, ORD_SCHEMA),
            "lineitem": spark.createDataFrame(lineitem, LI_SCHEMA),
        }
        if i == 0:
            deltas["customer"] = spark.createDataFrame(CUST, CUST_SCHEMA)
        before = Counter(map(tuple, eng.result().collect())) if i else Counter()
        bid = i if i < len(batches) - 1 else None
        ch = eng.process_batch(deltas, batch_id=bid, emit_delta=True)
        net: Counter = Counter()
        for r in ch.collect():
            net[(r["c_name"], r["qty"])] += r["weight"]
        after = Counter(map(tuple, eng.result().collect()))
        want = Counter(after)
        want.subtract(before)
        assert {k: w for k, w in net.items() if w} == {
            k: w for k, w in want.items() if w
        }, i
        layout.append(len(eng._segments["lineitem"]))
    # batches 2 and 4 compact lineitem back to one segment
    assert layout == [1, 2, 1, 2, 1], layout


def test_empty_batch_advances_last_batch(spark, tmp_path):
    sdir = str(tmp_path / "e")
    eng = IncrementalAcyclicQuery(spark, sdir, _spec())
    orders, lineitem = BATCHES[0]
    eng.process_batch(
        {
            "orders": spark.createDataFrame(orders, ORD_SCHEMA),
            "lineitem": spark.createDataFrame(lineitem, LI_SCHEMA),
            "customer": spark.createDataFrame(CUST, CUST_SCHEMA),
        },
        batch_id=0,
    )
    eng.process_batch({}, batch_id=1)  # no deltas at all
    resumed = IncrementalAcyclicQuery(spark, sdir, _spec(), resume=True)
    assert resumed._last_batch == 1  # offset-aligned even for empty batches
    # every delta present but empty: no relation is skipped, the batch
    # commits as before and emit_delta returns an (empty) changelog
    paths = {rel: resumed._path(rel, 2) for rel in ("orders", "lineitem", "customer")}
    ch = resumed.process_batch(
        {
            "orders": spark.createDataFrame([], ORD_SCHEMA),
            "lineitem": spark.createDataFrame([], LI_SCHEMA),
            "customer": spark.createDataFrame([], CUST_SCHEMA),
        },
        batch_id=2,
        emit_delta=True,
    )
    assert ch is not None and ch.count() == 0
    assert resumed._last_batch == 2
    assert {rel: resumed._segments[rel] for rel in paths} == {
        rel: [p] for rel, p in paths.items()
    }


def test_bucketed_state_survives_resume(spark, tmp_path):
    """Crash-resume with bucketed state: the manifest-committed partitioned
    dirs are re-read with the manifest-committed canonical schema (the
    ``_bucket`` partition column included), and results still match the
    plain engine — the resume ∘ bucketing composition."""
    spec = _spec(li_extra={"buckets": 8, "bucket_key": ("l_key",)})
    sdir = str(tmp_path / "b")
    eng = IncrementalAcyclicQuery(spark, sdir, spec)
    orders, lineitem = BATCHES[0]
    eng.process_batch(
        {
            "orders": spark.createDataFrame(orders, ORD_SCHEMA),
            "lineitem": spark.createDataFrame(lineitem, LI_SCHEMA),
            "customer": spark.createDataFrame(CUST, CUST_SCHEMA),
        },
        batch_id=0,
    )
    resumed = IncrementalAcyclicQuery(spark, sdir, spec, resume=True)
    o1, l1 = BATCHES[1]
    resumed.process_batch(
        {
            "orders": spark.createDataFrame(o1, ORD_SCHEMA),
            "lineitem": spark.createDataFrame(l1, LI_SCHEMA),
            # empty: skipped, its batch-0 state stays live
            "customer": spark.createDataFrame([], CUST_SCHEMA),
        },
        batch_id=1,
    )
    assert resumed._segments["customer"] == eng._segments["customer"]
    plain = _feed(spark, _engine(spark, tmp_path, _spec()), BATCHES)
    assert sorted(tuple(r) for r in resumed.result().collect()) == plain
    # resume after the skipping batch: same manifest paths, same result
    again = IncrementalAcyclicQuery(spark, sdir, spec, resume=True)
    assert again._segments == resumed._segments
    assert sorted(tuple(r) for r in again.result().collect()) == plain


def test_delta_first_order_starts_at_the_delta():
    """Join-order derivation is pure: for the Q10 tree
    (lineitem→orders→customer→nation), a delta on orders must join outward
    from orders (customer and lineitem at one hop, nation after customer) —
    never the sequential order that joins full upstream states first."""
    from flink_and_acyclic_schema_spark.streaming.incremental import q10_spec

    spec = q10_spec()
    eng = IncrementalAcyclicQuery.__new__(IncrementalAcyclicQuery)  # no state IO
    eng.spec = spec
    columns = {
        "lineitem": ["l_orderkey", "l_extendedprice", "l_discount", "weight"],
        "orders": ["o_orderkey", "o_custkey", "o_orderdate", "weight"],
        "customer": ["c_custkey", "c_name", "c_acctbal", "c_nationkey", "weight"],
        "nation": ["n_nationkey", "n_name", "weight"],
    }
    tree = eng._tree(columns)
    steps = eng._delta_first_order(spec.relations, "orders", tree)
    assert steps is not None
    names = [r.name for r, _, _, _ in steps]
    vias = {r.name: via for r, _, via, _ in steps}
    assert set(names) == {"lineitem", "customer", "nation"}
    # one-hop neighbours attach to the delta; nation attaches via customer
    assert vias["lineitem"] == "orders" and vias["customer"] == "orders"
    assert vias["nation"] == "customer"
    assert names.index("customer") < names.index("nation")
    # a leaf delta (lineitem) walks the path up
    steps = eng._delta_first_order(spec.relations, "lineitem", tree)
    assert [r.name for r, _, _, _ in steps] == ["orders", "customer", "nation"]


# spec relations and their delta schemas whose join tree does not resolve
# (``IncrementalAcyclicQuery._tree``), with the ValueError each raises
_UNRESOLVED_TREES = {
    # lineitem's edge column o_none is held by no relation
    "unheld": (
        (RelSpec("orders"), RelSpec("lineitem", join_on=("l_key", "o_none"))),
        {"orders": ORD_SCHEMA, "lineitem": LI_SCHEMA},
        "exactly one other relation",
    ),
    # o_key is held by orders and by dup, so lineitem's parent is ambiguous
    "held_twice": (
        (
            RelSpec("orders"),
            RelSpec("dup", join_on=("d_cust", "o_cust")),
            RelSpec("lineitem", join_on=("l_key", "o_key")),
        ),
        {
            "orders": ORD_SCHEMA,
            "dup": "d_cust int, o_key int, weight int",
            "lineitem": LI_SCHEMA,
        },
        "exactly one other relation",
    ),
    # x_key's only holder, x, comes after lineitem in the spec
    "held_later": (
        (
            RelSpec("orders"),
            RelSpec("lineitem", join_on=("l_key", "x_key")),
            RelSpec("x", join_on=("x_cust", "o_cust")),
        ),
        {"orders": ORD_SCHEMA, "lineitem": LI_SCHEMA, "x": "x_cust int, x_key int, weight int"},
        "comes later in the spec",
    ),
    # item joins the anti gate, which the gate-free virtual tree drops
    "anti_parent": (
        (
            RelSpec("orders"),
            RelSpec("gate", join_on=("g_key", "o_key"), anti=True),
            RelSpec("item", join_on=("i_key", "g_key")),
        ),
        {
            "orders": ORD_SCHEMA,
            "gate": "g_key int, g_val int, weight int",
            "item": "i_key int, i_val int, weight int",
        },
        "cannot have a child",
    ),
}


@pytest.mark.parametrize("case", sorted(_UNRESOLVED_TREES))
def test_unresolved_join_tree_raises_on_first_batch(spark, tmp_path, case):
    """The join tree is resolved once per batch, before any term is built:
    an edge column held by no relation or by two, a holder later in the
    spec, or an anti gate with a child raises ``ValueError`` on the first
    batch instead of a join over a tree that does not exist."""
    rels, schemas, match = _UNRESOLVED_TREES[case]
    spec = AcyclicQuerySpec(
        relations=rels, group_by=("o_cust",), measures={"n": lambda: F.lit(1)}
    )
    eng = _engine(spark, tmp_path, spec)
    deltas = {n: spark.createDataFrame([(1, 1, 1)], sch) for n, sch in schemas.items()}
    with pytest.raises(ValueError, match=match):
        eng.process_batch(deltas, batch_id=0)


def test_spec_guards():
    def rels(n_anti):
        base = [RelSpec("f")]
        base += [
            RelSpec(f"g{i}", join_on=(f"k{i}", "fk"), anti=True) for i in range(n_anti)
        ]
        return tuple(base)

    AcyclicQuerySpec(relations=rels(3), group_by=("g",))  # 8 trees: allowed
    with pytest.raises(ValueError, match="inclusion-exclusion"):
        AcyclicQuerySpec(relations=rels(4), group_by=("g",))
    with pytest.raises(ValueError, match="bucket_key"):
        AcyclicQuerySpec(
            relations=(RelSpec("f", buckets=4),), group_by=("g",)
        )
    with pytest.raises(ValueError, match="bucket by its join keys"):
        AcyclicQuerySpec(
            relations=(
                RelSpec("f"),
                RelSpec(
                    "g",
                    join_on=("k", "fk"),
                    semi=True,
                    buckets=4,
                    bucket_key=("other",),
                ),
            ),
            group_by=("g",),
        )


def test_multicolumn_probe_key_pushdown(spark, tmp_path):
    """A relation bucketed on a TWO-column join key pushes per-column In
    filters (a conservative cross-product superset of the probed tuples —
    exact, because non-matching keys can't join): the term plan carries a
    pushed filter on BOTH key columns, and results equal the unbucketed
    engine across a multi-batch stream with deletes."""
    li2 = "l_key int, l_cust int, l_qty int, weight int"

    def spec(extra=None):
        return AcyclicQuerySpec(
            relations=(
                RelSpec("orders"),
                RelSpec(
                    "lineitem",
                    join_on=(("l_key", "o_key"), ("l_cust", "o_cust")),
                    **(extra or {}),
                ),
            ),
            group_by=("o_cust",),
            measures={"qty": lambda: F.col("l_qty")},
        )

    bucketed = {"buckets": 8, "bucket_key": ("l_key", "l_cust")}
    eng = _engine(spark, tmp_path, spec(bucketed))
    eng.PRUNE_MIN_STATE_ROWS = 0  # pin the pruning machinery (r11 gate)
    eng.process_batch(
        {
            "orders": spark.createDataFrame(
                [(o, o % 4, 1) for o in range(40)], ORD_SCHEMA
            ),
            "lineitem": spark.createDataFrame(
                [(o, o % 4, o + 1, 1) for o in range(40)], li2
            ),
        },
        batch_id=0,
    )
    delta = eng._conform(
        "orders", spark.createDataFrame([(7, 3, 1)], ORD_SCHEMA)
    ).localCheckpoint()
    versions = {"orders": delta, "lineitem": eng._read_state("lineitem")}
    tree = eng._tree({n: df.columns for n, df in versions.items()})
    plan = plan_string(eng._join_chain(versions, eng.spec.relations, "orders", tree))
    assert "PartitionFilters" in plan and "_bucket" in plan
    assert "In(l_key" in plan or "EqualTo(l_key,7)" in plan
    assert "In(l_cust" in plan or "EqualTo(l_cust,3)" in plan
    ids, key_vals = eng._probe_pruning(
        delta, spec(bucketed).relations[1], ("o_key", "o_cust"), {}, None
    )
    assert key_vals == ([7], [3]) and len(ids) == 1

    batches = [
        ([(o, o % 4, 1) for o in range(40)], [(o, o % 4, o + 1, 1) for o in range(40)]),
        ([(3, 3, -1), (41, 1, 1)], [(41, 1, 9, 1), (5, 1, 6, -1)]),
    ]

    def feed(e):
        for i, (orders, lineitem) in enumerate(batches):
            e.process_batch(
                {
                    "orders": spark.createDataFrame(orders, ORD_SCHEMA),
                    "lineitem": spark.createDataFrame(lineitem, li2),
                },
                batch_id=i + 1,
            )
        return sorted(tuple(r) for r in e.result().collect())

    assert feed(_engine(spark, tmp_path, spec(bucketed))) == feed(
        _engine(spark, tmp_path, spec())
    )


# --- round 11: cost-based probe-pruning gate ---------------------------------
def test_prune_gate_skips_small_and_empty_state(spark, tmp_path, monkeypatch):
    """The r11 cost-based gate: probe pruning (two bounded driver jobs per
    probed state) is SKIPPED against empty state (batch 0 — nothing to
    prune) and against state below ``PRUNE_MIN_STATE_ROWS`` (the full scan
    is cheaper than the round-trips), while a ``PRUNE_MIN_STATE_ROWS = 0``
    twin prunes as before — and both produce identical results, because
    skipping is the trivial superset restriction. The twin's one-hop probes
    find their delta's row count already memoized from the batch's ingest
    job, so no probe pays a count job of its own."""
    import flink_and_acyclic_schema_spark.streaming.acyclic as am

    spec = _spec(li_extra={"buckets": 8, "bucket_key": ("l_key",)})
    calls = {"n": 0}
    seeded = []  # per one-hop probe: was its delta's row count memoized?
    orig = am.IncrementalAcyclicQuery._probe_pruning

    def spy(self, *a, **kw):
        calls["n"] += 1
        if kw.get("rows_key") is not None:
            seeded.append(kw["rows_key"] in a[3])
        return orig(self, *a, **kw)

    monkeypatch.setattr(am.IncrementalAcyclicQuery, "_probe_pruning", spy)

    gated = _engine(spark, tmp_path, spec)  # default threshold: 40 rows is small
    assert not gated._prune_worthwhile("lineitem")  # no committed state yet
    got = _feed(spark, gated, BATCHES)
    assert calls["n"] == 0  # small state end to end: never probed
    # exact post-merge count: 40 seeded, batch 1 deletes (3,4), nets (5,6)
    # into its existing row, adds (40,7) -> 40 net rows
    assert gated._state_rows["lineitem"] == 40
    assert not gated._prune_worthwhile("lineitem")  # 40 <= threshold

    calls["n"] = 0
    pruning = _engine(spark, tmp_path, spec)
    pruning.PRUNE_MIN_STATE_ROWS = 0
    want = _feed(spark, pruning, BATCHES)
    assert calls["n"] > 0  # the unconditional twin probes
    assert seeded and all(seeded)
    assert got == want and got  # identical, non-trivial results


def test_state_rows_tracking_and_resume(spark, tmp_path):
    """``_state_rows`` is exact after every net, an UPPER BOUND while
    appended versions accumulate, and rides the atomic manifest across
    resume."""
    spec = _spec(li_extra={"buckets": 4, "bucket_key": ("l_key",)})
    state_dir = str(tmp_path / "rows_track")
    eng = IncrementalAcyclicQuery(spark, state_dir, spec, compact_every=3)
    _feed(spark, eng, BATCHES)  # a netted version plus one append
    # appends accumulate an upper bound: 40 + 3 delta rows (one is a delete)
    assert eng._state_rows["lineitem"] == 43
    eng.process_batch(
        {"lineitem": spark.createDataFrame([(9, 9, 1)], LI_SCHEMA)}, batch_id=2
    )
    eng.process_batch(  # 3 live versions: no append slot -> a net, exact
        {"lineitem": spark.createDataFrame([(10, 2, 1)], LI_SCHEMA)}, batch_id=3
    )
    assert len(eng._segments["lineitem"]) == 1
    true_rows = eng._read_state("lineitem").count()
    assert eng._state_rows["lineitem"] == true_rows
    resumed = IncrementalAcyclicQuery(
        spark, state_dir, spec, compact_every=3, resume=True
    )
    assert resumed._state_rows["lineitem"] == true_rows


# every field of the engine's manifest: what ``IncrementalAcyclicQuery.
# _snapshot`` writes (the top-k's state included), and the spec's shape
MANIFEST_KEYS = (
    "version",
    "segments",
    "schemas",
    "seg_ts",
    "watermarks",
    "emitted",
    "last_batch",
    "state_rows",
    "topk",
    "spec",
)


@pytest.fixture(scope="module")
def committed_manifest(spark, tmp_path_factory):
    """The manifest a two-batch ``emit_delta`` run over bucketed state
    commits."""
    sdir = tmp_path_factory.mktemp("manifest") / "state"
    spec = _spec(li_extra={"buckets": 4, "bucket_key": ("l_key",)})
    eng = IncrementalAcyclicQuery(spark, str(sdir), spec)
    for i, (orders, lineitem) in enumerate(BATCHES):
        deltas = {
            "orders": spark.createDataFrame(orders, ORD_SCHEMA),
            "lineitem": spark.createDataFrame(lineitem, LI_SCHEMA),
        }
        if i == 0:
            deltas["customer"] = spark.createDataFrame(CUST, CUST_SCHEMA)
        eng.process_batch(deltas, batch_id=i, emit_delta=True)
    return json.loads((sdir / "MANIFEST.json").read_text())


def _resume_from(spark, tmp_path, data, spec=None):
    sdir = tmp_path / "state"
    sdir.mkdir()
    (sdir / "MANIFEST.json").write_text(json.dumps(data))
    spec = spec or _spec(li_extra={"buckets": 4, "bucket_key": ("l_key",)})
    return IncrementalAcyclicQuery(spark, str(sdir), spec, resume=True)


def test_manifest_holds_exactly_the_snapshot_fields(committed_manifest):
    assert set(committed_manifest) == set(MANIFEST_KEYS)
    assert committed_manifest["emitted"]["schema"]


@pytest.mark.parametrize("key", MANIFEST_KEYS)
def test_resume_rejects_a_manifest_missing_a_field(spark, tmp_path, committed_manifest, key):
    """One manifest format: every field the engine writes is required on
    resume, none falls back to a default."""
    data = {k: v for k, v in committed_manifest.items() if k != key}
    with pytest.raises(KeyError):
        _resume_from(spark, tmp_path, data)


def test_resume_rejects_a_manifest_with_an_unknown_field(spark, tmp_path, committed_manifest):
    """A field the engine does not write — e.g. the live bucket count older
    engines persisted after growing it — is not silently ignored: the state
    it describes may not match the spec's fixed layout."""
    with pytest.raises(KeyError, match="buckets"):
        _resume_from(spark, tmp_path, {**committed_manifest, "buckets": {"lineitem": 8}})


@pytest.mark.parametrize(
    "li_extra",
    [
        {"buckets": 8, "bucket_key": ("l_key",)},
        {"buckets": 4, "bucket_key": ("l_key",), "project": ("l_key", "l_qty")},
    ],
    ids=["buckets_4_to_8", "project_added"],
)
def test_resume_rejects_a_changed_relation_shape(spark, tmp_path, committed_manifest, li_extra):
    """The manifest records the spec's structural shape, and resume compares
    it. A state written with 4 lineitem buckets, resumed under 8, would hash
    probe keys into 8 buckets against 4-bucket partitions and silently drop
    join matches; it raises instead."""
    with pytest.raises(ValueError, match="relations"):
        _resume_from(spark, tmp_path, committed_manifest, _spec(li_extra=li_extra))


def test_resume_rejects_a_top_k_the_state_was_written_without(spark, tmp_path, committed_manifest):
    """A ``top_k`` added to an existing state dir has no committed top-k
    state to resume (claiming a complete top-k over an empty buffer would
    be wrong): the shape check refuses it instead of priming."""
    import dataclasses

    from flink_and_acyclic_schema_spark.streaming.acyclic import TopKSpec

    spec = dataclasses.replace(
        _spec(li_extra={"buckets": 4, "bucket_key": ("l_key",)}),
        top_k=TopKSpec(k=2, order_by="qty"),
    )
    with pytest.raises(ValueError, match="top_k"):
        _resume_from(spark, tmp_path, committed_manifest, spec)


def test_merge_mode_nets_a_raw_log_structured_segment(spark, tmp_path):
    """Merge-mode state is always NETTED (merge-mode reads skip the lazy
    net, so a delete must physically cancel its state row) — also after a
    cross-regime resume: a log-structured engine leaves a netted version
    plus ONE raw appended version, which together hold a duplicate-key row
    and a +1/-1 pair; reopened with compact_every=1, its first commit — on
    OTHER keys, or with an EMPTY lineitem delta, which must not skip the
    rewrite of raw state — must net both versions, keep ``_state_rows``
    exact, and answer like a merge-mode engine fed the same batches from
    the start."""
    spec = _spec(li_extra={"buckets": 4, "bucket_key": ("l_key",)})
    b0 = ([(o, o % 4, 1) for o in range(8)], [(o, o + 1, 1) for o in range(8)])
    # appended: (1, 2) again, a duplicate-key row; (30, 3) +1/-1, a zero-net pair
    b1 = ([], [(1, 2, 1), (30, 3, 1), (30, 3, -1)])
    for case, li_delta in (("other_keys", [(20, 5, 1), (21, 6, 1)]), ("empty", [])):
        b2 = ([(20, 1, 1)], li_delta)
        state_dir = str(tmp_path / f"cross_regime_{case}")
        log = IncrementalAcyclicQuery(spark, state_dir, spec, compact_every=3)
        _feed(spark, log, [b0, b1])
        assert len(log._segments["lineitem"]) == 2 and not log._netted("lineitem")
        raw = log._read_state("lineitem")
        assert raw.count() > raw.dropDuplicates(["l_key", "l_qty"]).count()
        eng = IncrementalAcyclicQuery(
            spark, state_dir, spec, compact_every=1, resume=True
        )
        eng.process_batch(
            {
                "orders": spark.createDataFrame(b2[0], ORD_SCHEMA),
                "lineitem": spark.createDataFrame(b2[1], LI_SCHEMA),
            },
            batch_id=2,
        )
        st = eng._read_state("lineitem")
        key_cols = [c for c in st.columns if c != "weight"]
        assert st.count() == st.dropDuplicates(key_cols).count(), case  # unique keys
        assert st.filter("weight = 0").count() == 0
        assert st.filter("l_key = 30").count() == 0  # the +1/-1 pair canceled
        assert st.filter("l_key = 1 AND l_qty = 2").first()["weight"] == 2
        assert eng._state_rows["lineitem"] == st.count()
        assert eng._netted("lineitem"), case
        got = sorted(tuple(r) for r in eng.result().collect())
        want = _feed(spark, _engine(spark, tmp_path, spec), [b0, b1, b2])
        assert got == want and got, case


def test_merge_mode_read_nets_raw_log_structured_segments(spark, tmp_path):
    """Merge-mode READS net state that is not a single netted version: a
    compact_every=3 engine inserts group c0 and retracts it in the next
    batch (a +1 and a -1 in two raw segments) and retracts c1's max value;
    resumed with compact_every=1, ``result()`` before any batch and the
    first batch's emit_delta changelog — whose pre-batch view reads the raw
    segments before the commit wave nets them — equal a merge-mode twin's,
    for the aggregate and the value histogram alike."""
    spec = AcyclicQuerySpec(
        relations=_spec().relations,
        group_by=("c_name",),
        measures={"qty": lambda: F.col("l_qty")},
        hist_measures={"top": ("max", lambda: F.col("l_qty"))},
    )
    b0 = ([(0, 0, 1), (1, 1, 1)], [(0, 4, 1), (1, 5, 1), (1, 9, 1)])
    b1 = ([], [(0, 4, -1), (1, 9, -1)])
    state_dir = str(tmp_path / "log_then_merge")
    log = IncrementalAcyclicQuery(spark, state_dir, spec, compact_every=3)
    twin = _engine(spark, tmp_path, spec)
    assert _feed(spark, log, [b0, b1]) == _feed(spark, twin, [b0, b1]) == [("c1", 5, 5)]
    assert len(log._segments["agg"]) == 2 and len(log._segments["hist::top"]) == 2

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    eng = IncrementalAcyclicQuery(spark, state_dir, spec, compact_every=1, resume=True)
    assert rows(eng.result()) == rows(twin.result())
    # the next batch touches both groups: the changelog's -1 side is the
    # pre-batch view of c0 (absent) and c1
    changelogs = [
        rows(
            e.process_batch(
                {
                    "orders": spark.createDataFrame([], ORD_SCHEMA),
                    "lineitem": spark.createDataFrame([(0, 6, 1), (1, 7, 1)], LI_SCHEMA),
                },
                batch_id=2,
                emit_delta=True,
            )
        )
        for e in (eng, twin)
    ]
    assert changelogs[0] == changelogs[1]
    assert rows(eng.result()) == rows(twin.result())


def test_wide_probe_sample_covering_all_buckets_skips_fallback_scan(
    spark, tmp_path, monkeypatch
):
    """An over-cap probe does not prune: after exactly one capped distinct()
    it returns ``None``, the unpruned scan — over KEY_PUSHDOWN_CAP distinct
    keys realistically probe every bucket, so a bucket-id scan could only
    confirm the all-buckets superset. A probe within the cap prunes to its
    buckets and pushes its keys."""
    spec = _spec(li_extra={"buckets": 8, "bucket_key": ("l_key",)})
    eng = _engine(spark, tmp_path, spec)
    calls = {"n": 0}
    # patch the RUNTIME DataFrame class (Spark 4's classic subclass
    # overrides distinct, so patching the pyspark.sql.DataFrame parent
    # would not intercept)
    df_cls = type(spark.range(1))
    orig_distinct = df_cls.distinct

    def counting_distinct(self):
        calls["n"] += 1
        return orig_distinct(self)

    monkeypatch.setattr(df_cls, "distinct", counting_distinct)
    # the engine probes only committed state, whose schema is pinned
    eng._conform("lineitem", spark.createDataFrame([], LI_SCHEMA))
    # > KEY_PUSHDOWN_CAP distinct keys spread across all 8 buckets
    cap = IncrementalAcyclicQuery.KEY_PUSHDOWN_CAP
    wide_delta = eng._conform(
        "orders",
        spark.createDataFrame([(o, o % 4, 1) for o in range(2 * cap)], ORD_SCHEMA),
    ).localCheckpoint()
    assert eng._probe_pruning(wide_delta, spec.relations[2], ("o_key",)) is None
    assert calls["n"] == 1  # the limit attempt only — no fallback scan
    calls["n"] = 0
    narrow = eng._conform(
        "orders", spark.createDataFrame([(7, 3, 1)], ORD_SCHEMA)
    ).localCheckpoint()
    ids2, key_vals2 = eng._probe_pruning(narrow, spec.relations[2], ("o_key",))
    assert calls["n"] == 1 and key_vals2 == ([7],) and len(ids2) == 1


# --- per-batch job budget of the continuous Q10 top-20 -------------------------
Q10_LI = "l_orderkey int, l_extendedprice double, l_discount double, l_returnflag string, weight int"
Q10_ORD = "o_orderkey int, o_custkey int, o_orderdate timestamp_ntz, weight int"
Q10_CUST = "c_custkey int, c_name string, c_acctbal double, c_nationkey int, weight int"
Q10_NAT = "n_nationkey int, n_name string, weight int"


def _q10_batch(spark, where, lineitem=(), orders=(), customer=(), nation=()):
    """One Q10 micro-batch, each delta read from parquet files as the
    streaming source delivers it (file deltas carry size statistics; a
    createDataFrame from local rows would hide them from the planner)."""
    from datetime import datetime

    day = datetime(1995, 11, 1)  # inside the Q10 order-date window
    frames = {
        "lineitem": spark.createDataFrame(
            [(k, p, 0.1, "R", w) for k, p, w in lineitem], Q10_LI
        ),
        "orders": spark.createDataFrame([(k, c, day, w) for k, c, w in orders], Q10_ORD),
        "customer": spark.createDataFrame(
            [(c, f"cust{c}", 10.0 * c, c % 5, w) for c, w in customer], Q10_CUST
        ),
        "nation": spark.createDataFrame([(n, f"n{n}", w) for n, w in nation], Q10_NAT),
    }
    batch_dir = where / uuid.uuid4().hex[:8]
    out = {}
    for rel, df in frames.items():
        df.write.parquet(str(batch_dir / rel))
        out[rel] = spark.read.schema(df.schema).parquet(str(batch_dir / rel))
    return out


Q10_BOOT = dict(
    lineitem=[(o, 100.0 + o, 1) for o in range(120)],
    orders=[(o, o % 60, 1) for o in range(120)],
    # more customers than the top-20's k + slack: the buffer has a boundary
    customer=[(c, 1) for c in range(60)],
    nation=[(n, 1) for n in range(5)],
)
# a trickle: nation untouched, one order retracted with its lineitem, one
# order re-inserted under another customer, one customer re-keyed
Q10_TRICKLE = dict(
    lineitem=[(7, 107.0, -1), (120, 500.0, 1)],
    orders=[(7, 7, -1), (120, 3, 1)],
    customer=[(59, -1), (60, 1)],
)


def _q10_topk(eng):
    return sorted(tuple(r) for r in eng.topk_result().collect())


def test_q10_trickle_batch_job_budget(spark, tmp_path):
    """A trickle batch of the continuous Q10 top-20 whose nation delta is
    empty schedules no nation commit and no touched-set action. Its states
    and deltas together fit the planner's broadcast rule, so it folds its
    delta join in one task: the join and its group-by plan no Exchange and
    no broadcast, and the fold is one job. Its small states net in one
    task, so each state write and the aggregate write is one job. The
    pre-batch view is read inside the emitted write, and both of the
    write's touched-group restrictions join single partitions, so the
    write is one job too. The whole batch — phases plus unphased jobs such
    as a read-back's schema inference — stays within 9 jobs. The top-20
    equals a fresh engine fed the same rows in one batch, and an all-empty
    batch after it changes nothing and emits nothing."""
    from flink_and_acyclic_schema_spark.plans.ivm_topk_ext import _q10_topk_spec

    eng = _engine(spark, tmp_path, _q10_topk_spec())
    eng.instrument = True
    eng.process_batch(_q10_batch(spark, tmp_path, **Q10_BOOT), batch_id=0)
    trickle = _q10_batch(spark, tmp_path, **Q10_TRICKLE)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    eng.process_batch(trickle, batch_id=1)
    unphased = len(set(tracker.getJobIdsForGroup(None)) - before)
    prof = eng.last_profile
    assert "state_write:nation" not in prof and "touched" not in prof
    assert "emit_pre" not in prof and eng.last_one_task
    for phase in (
        "join_fold",
        "state_write:lineitem",
        "state_write:orders",
        "state_write:customer",
        "agg_write",
        "emitted_write",
    ):
        assert prof[phase]["jobs"] == 1, (phase, prof)
    assert sum(p["jobs"] for p in prof.values()) + unphased <= 9, (prof, unphased)
    assert [p.rsplit("/", 1)[-1] for p in eng._segments["nation"]] == ["nation_v1"]

    once = _engine(spark, tmp_path, _q10_topk_spec())
    merged = {k: Q10_BOOT[k] + Q10_TRICKLE.get(k, []) for k in Q10_BOOT}
    once.process_batch(_q10_batch(spark, tmp_path, **merged), batch_id=0)
    assert _q10_topk(eng) == _q10_topk(once) and _q10_topk(once)

    # all-empty batch: the full path as before — a (empty) changelog is
    # returned, the top-k emits nothing, the last committed batch advances
    ch = eng.process_batch(_q10_batch(spark, tmp_path), batch_id=2, emit_delta=True)
    assert ch is not None and ch.count() == 0
    assert eng.topk_delta().count() == 0
    assert eng._last_batch == 2
    assert _q10_topk(eng) == _q10_topk(once)


def test_resumed_q10_trickle_keeps_the_one_task_plan(spark, tmp_path):
    """The state schemas ride the manifest, so an engine resumed right after
    the bootstrap sizes its committed states without waiting for deltas to
    re-pin them: its first trickle batch folds in one task with the same
    per-phase job map as the engine that ran the bootstrap, and maintains
    the same top-20."""
    from flink_and_acyclic_schema_spark.plans.ivm_topk_ext import _q10_topk_spec

    boot = _q10_batch(spark, tmp_path, **Q10_BOOT)
    trickle = _q10_batch(spark, tmp_path, **Q10_TRICKLE)
    jobs, tops = {}, {}
    for resume in (False, True):
        sdir = str(tmp_path / f"q10_resume_{resume}")
        eng = IncrementalAcyclicQuery(spark, sdir, _q10_topk_spec())
        eng.process_batch(boot, batch_id=0)
        if resume:
            eng = IncrementalAcyclicQuery(spark, sdir, _q10_topk_spec(), resume=True)
        eng.instrument = True
        eng.process_batch(trickle, batch_id=1)
        assert eng.last_one_task, resume
        jobs[resume] = {phase: p["jobs"] for phase, p in eng.last_profile.items()}
        tops[resume] = _q10_topk(eng)
    assert jobs[True] == jobs[False], jobs
    assert tops[True] == tops[False] and tops[True]


@pytest.fixture
def fold_plans(monkeypatch):
    """The physical plan of every ``_counted_checkpoint`` (with emit_delta
    on and no preserve relation: the fold's aggregate delta), in order."""
    plans = []
    inner = IncrementalAcyclicQuery._counted_checkpoint

    def record(df):
        plans.append(plan_string(df))
        return inner(df)

    monkeypatch.setattr(IncrementalAcyclicQuery, "_counted_checkpoint", staticmethod(record))
    return plans


@contextmanager
def _single_partition_cap(spark, value):
    key = "spark.sql.maxSinglePartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def test_trickle_fold_plans_one_task_without_exchange(spark, tmp_path, fold_plans):
    """A Q10 trickle batch whose committed states and counted deltas fit the
    broadcast rule folds in one task: its fold plan has no Exchange and no
    BroadcastExchange. The bootstrap batch (no committed state), a batch
    whose delta has no ingest count (one relation only: nothing to skip,
    so nothing is counted) and a trickle batch in a session that keeps the
    default single-partition cap all keep the broadcast plan."""
    from flink_and_acyclic_schema_spark.plans.ivm_topk_ext import _q10_topk_spec

    eng = _engine(spark, tmp_path, _q10_topk_spec())
    eng.process_batch(_q10_batch(spark, tmp_path, **Q10_BOOT), batch_id=0)
    assert not eng.last_one_task and "BroadcastExchange" in fold_plans[-1]
    eng.process_batch(_q10_batch(spark, tmp_path, **Q10_TRICKLE), batch_id=1)
    assert eng.last_one_task and "Exchange" not in fold_plans[-1], fold_plans[-1]
    orders_only = _q10_batch(spark, tmp_path, orders=[(121, 4, 1)])
    eng.process_batch({"orders": orders_only["orders"]}, batch_id=2)
    assert not eng.last_one_task and "BroadcastExchange" in fold_plans[-1]
    with _single_partition_cap(spark, "128m"):
        eng.process_batch(
            _q10_batch(spark, tmp_path, orders=[(121, 4, -1)], lineitem=[(5, 105.0, -1)]),
            batch_id=3,
        )
    assert not eng.last_one_task and "BroadcastExchange" in fold_plans[-1]
    eng.process_batch(_q10_batch(spark, tmp_path, orders=[(122, 5, 1)]), batch_id=4)
    assert eng.last_one_task and "Exchange" not in fold_plans[-1]


@pytest.mark.parametrize("gate", ["semi", "ttl"])
def test_gate_and_ttl_deltas_keep_the_broadcast_plan(spark, tmp_path, fold_plans, gate):
    """A semi gate's term delta is its presence delta and a ttl delta is
    watermark-filtered: neither is bounded by its ingest count, so a batch
    carrying one keeps today's plan, with its exchanges."""
    if gate == "semi":
        spec = AcyclicQuerySpec(
            relations=(
                RelSpec("orders"),
                RelSpec("customer", join_on=("c_key", "o_cust")),
                RelSpec("lineitem", join_on=("l_key", "o_key"), semi=True),
            ),
            group_by=("c_name",),
            measures={"n": lambda: F.lit(1)},
        )
    else:
        spec = _spec(li_extra={"ttl": ("l_qty", lambda wm: wm - F.lit(1000))})
    eng = _engine(spark, tmp_path, spec)
    result = _feed(spark, eng, BATCHES[:1])
    eng.process_batch(
        {
            "orders": spark.createDataFrame([(41, 3, 1)], ORD_SCHEMA),
            "lineitem": spark.createDataFrame([(41, 7, 1)], LI_SCHEMA),
        },
        batch_id=1,
        emit_delta=True,
    )
    assert result and not eng.last_one_task and "Exchange" in fold_plans[-1]


Q10_STREAM = [
    Q10_TRICKLE,
    dict(lineitem=[(120, 500.0, -1), (121, 50.0, 1)], orders=[(121, 12, 1)]),
    dict(
        lineitem=[(10, 110.0, -1), (10, 111.0, 1)],
        orders=[(10, 10, -1), (10, 11, 1)],
        nation=[(4, -1)],
    ),
    dict(customer=[(61, 1)], orders=[(122, 61, 1)], lineitem=[(122, 900.0, 1)]),
]


def _netted(changelog):
    cols = [c for c in changelog.columns if c != "weight"]
    net = changelog.groupBy(*cols).agg(F.sum("weight").alias("weight"))
    return sorted(tuple(r) for r in net.filter(F.col("weight") != 0).collect())


def test_one_task_stream_matches_other_plans(spark, tmp_path):
    """A Q10 stream whose trickle batches fold in one task gives the same
    changelogs, ``result()`` and ``topk_result()`` as the per-term
    decomposition (``factor_terms=False``) and as the broadcast plan (a
    session under the default single-partition cap), and the same
    ``result()`` and ``topk_result()`` as a fresh engine fed every row in
    one batch."""
    from flink_and_acyclic_schema_spark.plans.ivm_topk_ext import _q10_topk_spec

    batches = [_q10_batch(spark, tmp_path, **Q10_BOOT)]
    batches += [_q10_batch(spark, tmp_path, **b) for b in Q10_STREAM]

    def run(factor_terms=True):
        eng = _engine(spark, tmp_path, _q10_topk_spec())
        eng.factor_terms = factor_terms
        logs, one_task = [], []
        for i, b in enumerate(batches):
            logs.append(_netted(eng.process_batch(b, batch_id=i, emit_delta=True)))
            one_task.append(eng.last_one_task)
        return eng, logs, one_task

    eng, logs, one_task = run()
    assert one_task == [False] + [True] * len(Q10_STREAM)
    per_term, per_term_logs, _ = run(factor_terms=False)
    with _single_partition_cap(spark, "128m"):
        broadcast, broadcast_logs, broadcast_one_task = run()
    assert not any(broadcast_one_task)
    assert logs == per_term_logs == broadcast_logs
    assert all(logs[1:])

    rows = {k: list(v) for k, v in Q10_BOOT.items()}
    for b in Q10_STREAM:
        for k, v in b.items():
            rows[k] += v
    once = _engine(spark, tmp_path, _q10_topk_spec())
    once.process_batch(_q10_batch(spark, tmp_path, **rows), batch_id=0)

    def view(e):
        return sorted(tuple(r) for r in e.result().collect())

    assert view(eng) == view(per_term) == view(broadcast) == view(once)
    assert _q10_topk(eng) == _q10_topk(per_term) == _q10_topk(broadcast) == _q10_topk(once)


NULL_ITEM = "kid int, tag string, v int, weight int"
NULL_KIND = "k int, label string, weight int"


@pytest.mark.parametrize("extra", ["none", "hist", "preserve"])
def test_emit_delta_keeps_a_group_whose_key_holds_null(spark, tmp_path, extra):
    """A group whose ``group_by`` key holds a NULL is one group of the view:
    ``result()`` and the emitted changelog carry it on the broadcast plan
    (the bootstrap batch) and on the one-task plan (a trickle batch), so
    chained engines and the spec-level top-k see it too — also with a value
    histogram joined per group, and with preserve padding, which must not
    pad a group the aggregate surfaces."""
    hist = {"mx": ("max", lambda: F.col("v"))} if extra == "hist" else {}
    spec = AcyclicQuerySpec(
        relations=(RelSpec("item"), RelSpec("kind", join_on=("k", "kid"))),
        group_by=("kid", "tag"),
        measures={"v": lambda: F.col("v")},
        hist_measures=hist,
        preserve="item" if extra == "preserve" else None,
    )
    eng = _engine(spark, tmp_path, spec)

    def batch(i, items, kinds):
        deltas = {
            "item": spark.createDataFrame(items, NULL_ITEM),
            "kind": spark.createDataFrame(kinds, NULL_KIND),
        }
        changelog = eng.process_batch(deltas, batch_id=i, emit_delta=True)
        return sorted((tuple(r) for r in changelog.collect()), key=str)

    def row(*r, mx=None):
        return (*r[:3], mx, *r[3:]) if hist else r

    got = batch(0, [(1, None, 10, 1), (2, "a", 5, 1)], [(1, "x", 1), (2, "y", 1)])
    assert got == [row(1, None, 10, 1, mx=10), row(2, "a", 5, 1, mx=5)]
    assert not eng.last_one_task
    got = batch(1, [(1, None, 5, 1)], [])
    assert got == [row(1, None, 10, -1, mx=10), row(1, None, 15, 1, mx=10)]
    assert eng.last_one_task
    assert sorted((tuple(r) for r in eng.result().collect()), key=str) == [
        row(1, None, 15, mx=10),
        row(2, "a", 5, mx=5),
    ]
