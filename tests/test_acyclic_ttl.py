"""Watermark-driven state retention (TTL) in the generic IVM engine
(streaming/acyclic.py) — the bounded-state story for unbounded streams.

The reference's engine (Flink) bounds keyed state with event-time watermarks;
its demo query never does, so a long-running changelog grows state without
bound. ``RelSpec.ttl = (ts_col, horizon)`` adds the mechanism the natural
Spark way: the relation's watermark is the running max event time over its
ingested deltas, rows below ``horizon(watermark)`` are dropped at ingest
(late-data policy), and state rows crossing below the horizon are EVICTED by
re-feeding them through the batch as ordinary retraction deltas — the join
terms, presence gates, value histograms, and HAVING machinery all retract
exactly because eviction is just a delete. The maintained result is therefore
the aggregate over the sliding event-time window [horizon(wm), wm].

Key invariant (what makes the oracle expressible): a delta is late iff its
ts is below the horizon at arrival, and the horizon is monotone — so any row
with ts >= final horizon is NEVER dropped, and rows below the final horizon
are excluded from the result whether they were dropped, applied-then-evicted,
or applied-then-deleted. Final state equals a from-scratch recompute over
``ts >= horizon(max ts)`` regardless of chunk interleaving.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from flink_and_acyclic_schema_spark.streaming.acyclic import (
    AcyclicQuerySpec,
    IncrementalAcyclicQuery,
    RelSpec,
)

EV_SCHEMA = "e_key int, e_day int, e_cat string, e_val int, weight int"
ORD_SCHEMA = "o_key int, o_day int, o_pri string, weight int"
LI_SCHEMA = "l_key int, l_qty int, weight int"

WINDOW = 10  # retained days: horizon = watermark - 10


def _ttl():
    return ("e_day", lambda wm: wm - F.lit(WINDOW))


def _engine(spark, tmp_path, spec, **kw):
    return IncrementalAcyclicQuery(
        spark, str(tmp_path / f"s{uuid.uuid4().hex[:8]}"), spec, **kw
    )


def _events_spec(**extra):
    return AcyclicQuerySpec(
        relations=(RelSpec("events", ttl=_ttl(), **extra),),
        group_by=("e_cat",),
        measures={"val": lambda: F.col("e_val")},
    )


def _recompute(rows, window=WINDOW):
    """From-scratch sliding-window aggregate over the NET multiset of all
    non-late rows: group -> sum(weight * val) over rows with day >= max - W."""
    wm = max(d for _, d, _, _, _ in rows)
    net: dict[tuple, int] = {}
    val: dict[tuple, int] = {}
    for k, d, c, v, w in rows:
        if d < wm - window:
            continue
        net[(k, d, c, v)] = net.get((k, d, c, v), 0) + w
    out: dict[str, int] = {}
    sup: dict[str, int] = {}
    for (k, d, c, v), m in net.items():
        if m == 0:
            continue
        out[c] = out.get(c, 0) + m * v
        sup[c] = sup.get(c, 0) + m
    return sorted((c, out[c]) for c in out if sup[c] > 0)


def _feed(spark, eng, batches, schema=EV_SCHEMA, rel="events"):
    for i, rows in enumerate(batches):
        eng.process_batch(
            {rel: spark.createDataFrame(rows or [], schema)}, batch_id=i
        )
    return sorted(tuple(r) for r in eng.result().collect())


BATCHES = [
    # days advance 0..30; each batch slides the window and strands old rows
    [(i, i % 8, f"c{i % 3}", i + 1, 1) for i in range(16)],
    [(i, 8 + i % 8, f"c{i % 3}", i, 1) for i in range(16, 32)]
    + [(3, 3, "c0", 4, -1)],  # late delete: its row ages out this same batch
    [(i, 16 + i % 8, f"c{i % 3}", 2 * i, 1) for i in range(32, 48)]
    + [(17, 9, "c2", 17, -1)],  # late delete for an already-evicted row
    [(i, 24 + i % 7, f"c{i % 3}", i, 1) for i in range(48, 64)],
]


def test_ttl_sliding_window_equals_recompute(spark, tmp_path):
    got = _feed(spark, _engine(spark, tmp_path, _events_spec()), BATCHES)
    want = _recompute([r for b in BATCHES for r in b])
    assert got == want


def test_ttl_log_structured_state_stays_window_bounded(spark, tmp_path):
    """compact_every=1 keeps physical state at the net retained multiset:
    after the stream, the events state holds only rows inside the window."""
    eng = _engine(spark, tmp_path, _events_spec())
    got = _feed(spark, eng, BATCHES)
    assert got == _recompute([r for b in BATCHES for r in b])
    state = eng._read_state("events").collect()
    all_rows = [r for b in BATCHES for r in b]
    wm = max(d for _, d, _, _, _ in all_rows)
    assert state, "retained window must be non-empty"
    assert all(row["e_day"] >= wm - WINDOW for row in state)
    # and under the log-structured regime eviction still nets old rows to 0
    eng2 = _engine(spark, tmp_path, _events_spec(), compact_every=2)
    assert _feed(spark, eng2, BATCHES) == got
    net: dict[tuple, int] = {}
    for row in eng2._read_state("events").collect():
        key = (row["e_key"], row["e_day"], row["e_cat"], row["e_val"])
        net[key] = net.get(key, 0) + row["weight"]
    assert all(day >= wm - WINDOW for (_, day, _, _), w in net.items() if w != 0)


def test_ttl_late_rows_are_dropped_not_stranded(spark, tmp_path):
    """A row arriving below the current horizon must be DROPPED: if it were
    applied, the eviction band (which only sweeps [old horizon, new horizon))
    would never revisit it and it would pollute state forever."""
    late = [(99, 0, "c0", 1000, 1)]  # day 0 arrives when wm is already 23
    batches = [BATCHES[0], BATCHES[1], late, BATCHES[2], BATCHES[3]]
    got = _feed(spark, _engine(spark, tmp_path, _events_spec()), batches)
    # the late row is below the FINAL horizon too, so the recompute (which
    # window-filters it) is exactly the no-pollution answer
    want = _recompute([r for b in batches for r in b])
    assert got == want
    assert not any(v >= 1000 for _, v in got)


def test_ttl_eviction_retracts_join_contributions(spark, tmp_path):
    """TTL on a parent relation: when an order ages out, its lineitems'
    contributions retract through the delta-join terms (the lineitem rows
    themselves remain in state but join to nothing)."""
    spec = AcyclicQuerySpec(
        relations=(
            RelSpec("orders", ttl=("o_day", lambda wm: wm - F.lit(10))),
            RelSpec("lineitem", join_on=("l_key", "o_key")),
        ),
        group_by=("o_pri",),
        measures={"qty": lambda: F.col("l_qty")},
    )
    eng = _engine(spark, tmp_path, spec)
    batches = [
        (
            [(o, o, f"p{o % 2}", 1) for o in range(8)],
            [(o, 10 * (o + 1), 1) for o in range(8)],
        ),
        # new orders advance wm to 20: orders with day < 10 age out
        (
            [(o, 12 + o % 9, f"p{o % 2}", 1) for o in range(8, 16)],
            [(o, 5, 1) for o in range(8, 16)],
        ),
        # a delete for a retained order, plus late lineitems for an evicted
        # order (lineitem has no ttl: they apply, but join to nothing)
        ([(9, 12, "p1", -1)], [(2, 7, 1)]),
    ]
    for i, (orders, lineitem) in enumerate(batches):
        eng.process_batch(
            {
                "orders": spark.createDataFrame(orders, ORD_SCHEMA),
                "lineitem": spark.createDataFrame(lineitem, LI_SCHEMA),
            },
            batch_id=i,
        )
    got = sorted(tuple(r) for r in eng.result().collect())
    # recompute: orders with m>0 and day >= 20 - 10, joined to net lineitems
    orders = {}
    for rows in (b[0] for b in batches):
        for o, d, p, w in rows:
            orders[o] = (d, p, orders.get(o, (d, p, 0))[2] + w)
    li = {}
    for rows in (b[1] for b in batches):
        for o, q, w in rows:
            li[(o, q)] = li.get((o, q), 0) + w
    wm = max(d for d, _, _ in orders.values())
    want: dict[str, int] = {}
    sup: dict[str, int] = {}
    for (o, q), lm in li.items():
        d, p, om = orders.get(o, (None, None, 0))
        if om <= 0 or d < wm - 10:
            continue
        want[p] = want.get(p, 0) + om * lm * q
        sup[p] = sup.get(p, 0) + om * lm
    assert got == sorted((p, want[p]) for p in want if sup[p] > 0)


def test_ttl_hist_min_steps_up_when_extremum_ages_out(spark, tmp_path):
    """Value-histogram measures under eviction: the window's MIN is held by
    the oldest row; when it crosses the horizon the maintained MIN must step
    to the surviving runner-up — eviction exercises exactly the retraction
    path that makes min/max non-invertible."""
    spec = AcyclicQuerySpec(
        relations=(RelSpec("events", ttl=_ttl()),),
        group_by=("e_cat",),
        measures={"n": lambda: F.lit(1)},
        hist_measures={"mn": ("min", lambda: F.col("e_val"))},
    )
    batches = [
        [(1, 0, "c0", 5, 1), (2, 1, "c0", 7, 1), (3, 2, "c0", 9, 1)],
        [(4, 11, "c0", 8, 1)],  # wm 11: horizon 1 evicts day-0 (val 5)
        [(5, 13, "c0", 6, 1)],  # wm 13: horizon 3 evicts days 1,2 (7 and 9)
    ]
    eng = _engine(spark, tmp_path, spec)
    got = _feed(spark, eng, batches)
    assert got == [("c0", 2, 6)]  # two retained rows; min stepped 5 -> 6


def test_ttl_watermark_survives_resume(spark, tmp_path):
    """The watermark is part of the atomic manifest commit: a resumed engine
    must keep dropping rows below the horizon it had already advanced past
    (losing the watermark would admit them and corrupt state forever)."""
    state_dir = str(tmp_path / "wm_resume")
    spec = _events_spec()
    eng = IncrementalAcyclicQuery(spark, state_dir, spec)
    eng.process_batch(
        {"events": spark.createDataFrame(BATCHES[0] + BATCHES[1], EV_SCHEMA)},
        batch_id=0,
    )
    resumed = IncrementalAcyclicQuery(spark, state_dir, spec, resume=True)
    # replay of batch 0 must skip (no double-count) ...
    resumed.process_batch(
        {"events": spark.createDataFrame(BATCHES[0], EV_SCHEMA)}, batch_id=0
    )
    # ... and a late-only batch must be fully dropped under the restored wm
    resumed.process_batch(
        {"events": spark.createDataFrame([(7, 0, "c1", 999, 1)], EV_SCHEMA)},
        batch_id=1,
    )
    got = sorted(tuple(r) for r in resumed.result().collect())
    assert got == _recompute(BATCHES[0] + BATCHES[1])


def test_ttl_requires_ts_in_project(spark):
    with pytest.raises(ValueError, match="ttl"):
        RelSpec(
            "events",
            ttl=("e_day", lambda wm: wm - F.lit(3)),
            project=("e_cat", "e_val"),
        )


def test_ttl_on_semi_gate_child(spark, tmp_path):
    """TTL on an EXISTS gate: presence is derived from the gate's raw state,
    so when a parent's LAST in-window child ages out the presence delta
    retracts the parent — and a fresh child re-surfaces it."""
    spec = AcyclicQuerySpec(
        relations=(
            RelSpec("orders"),
            RelSpec(
                "lineitem",
                join_on=("l_key", "o_key"),
                semi=True,
                ttl=("l_qty", lambda wm: wm - F.lit(5)),  # l_qty doubles as day
            ),
        ),
        group_by=("o_pri",),
        measures={"n": lambda: F.lit(1)},
    )
    eng = _engine(spark, tmp_path, spec)
    feed = lambda i, o, li: eng.process_batch(
        {
            "orders": spark.createDataFrame(o or [], ORD_SCHEMA),
            "lineitem": spark.createDataFrame(li or [], LI_SCHEMA),
        },
        batch_id=i,
    )
    res = lambda: sorted(tuple(r) for r in eng.result().collect())
    feed(0, [(1, 0, "a", 1), (2, 0, "b", 1)], [(1, 0, 1), (2, 0, 1), (2, 1, 1)])
    assert res() == [("a", 1), ("b", 1)]
    # wm 7 -> horizon 2: both of order 2's children age out, order 1 gets a
    # fresh one — order 2 must retract
    feed(1, None, [(1, 7, 1)])
    assert res() == [("a", 1)]
    # a new in-window child re-surfaces order 2
    feed(2, None, [(2, 8, 1)])
    assert res() == [("a", 1), ("b", 1)]


def test_ttl_emit_delta_changelog_telescopes(spark, tmp_path):
    """emit_delta under TTL: eviction-driven result changes ride the emitted
    view changelog exactly like delta-driven ones, so the telescoped net of
    all per-batch changelogs equals the final maintained result — the
    invariant chained engines and sinks rely on."""
    eng = _engine(spark, tmp_path, _events_spec())
    net: dict[tuple, int] = {}
    for i, rows in enumerate(BATCHES):
        ch = eng.process_batch(
            {"events": spark.createDataFrame(rows, EV_SCHEMA)},
            batch_id=i,
            emit_delta=True,
        )
        if ch is None:
            continue
        for r in ch.collect():
            key = (r["e_cat"], r["val"])
            net[key] = net.get(key, 0) + r["weight"]
    telescoped = sorted(k for k, w in net.items() if w != 0)
    final = sorted(tuple(r) for r in eng.result().collect())
    assert telescoped == final == _recompute([r for b in BATCHES for r in b])


# --- property: windowed recompute equality under ARBITRARY interleavings ----
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from .conftest import full_tier_only, prop_examples

_ROW = st.tuples(
    st.integers(0, 15),  # key
    st.integers(0, 30),  # event day
    st.integers(0, 2),  # category
    st.integers(-5, 50),  # value
    st.sampled_from([1, 1, -1]),  # weight (insert-biased)
)
_BATCHES = st.lists(st.lists(_ROW, max_size=12), min_size=1, max_size=4)


@settings(max_examples=prop_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(batches=_BATCHES)
def test_ttl_property_any_interleaving_matches_windowed_recompute(
    spark, tmp_path, batches
):
    """The lateness-monotonicity argument as a checked property: for ANY
    batch split — deletes before inserts, duplicate rows, out-of-order event
    times, empty batches — the drained ttl engine equals the from-scratch
    net-multiset recompute over ``day >= max(day) - W``. Rows below the final
    horizon must net to zero whether they were late-dropped, evicted, or
    explicitly deleted; rows at/above it are never dropped."""
    rows = [
        [(k, d, f"c{c}", v, w) for (k, d, c, v, w) in b] for b in batches
    ]
    flat = [r for b in rows for r in b]
    if not flat:
        return
    got = _feed(spark, _engine(spark, tmp_path, _events_spec()), rows)
    assert got == _recompute(flat)


def test_ttl_segment_ranges_prune_eviction_reads(spark, tmp_path):
    """Log-structured ttl state tracks a per-segment ts range in the
    manifest; the eviction band read must skip segments that cannot
    intersect [old horizon, new horizon) — segment-level pruning is the only
    band pruning available to key-sorted bucketed state. Check the tracked
    ranges select a strict subset for an old band, survive resume, and that
    the stream stays recompute-equal."""
    from flink_and_acyclic_schema_spark.streaming.acyclic import _range_hits

    spec = AcyclicQuerySpec(
        relations=(
            RelSpec("events", ttl=("e_day", lambda wm: wm - F.lit(4))),
        ),
        group_by=("e_cat",),
        measures={"val": lambda: F.col("e_val")},
    )
    state_dir = str(tmp_path / "segprune")
    eng = IncrementalAcyclicQuery(spark, state_dir, spec, compact_every=10)
    batches = [
        [(10 * b + i, 2 * b + i % 2, f"c{i % 3}", i, 1) for i in range(8)]
        for b in range(5)  # event-ordered: days 0-1, 2-3, ..., 8-9
    ]
    got = _feed(spark, eng, batches)
    assert got == _recompute([r for b in batches for r in b], window=4)
    segs = eng._segments["events"]
    ranges = eng._seg_ts["events"]
    assert set(ranges) == set(segs) and len(segs) >= 4
    # a band over days [0, 2) can only live in the earliest segments
    hits = [p for p in segs if _range_hits(ranges[p], 0, 2)]
    assert 0 < len(hits) < len(segs)
    # the latest segment's range cannot reach an old band
    assert not _range_hits(ranges[segs[-1]], 0, 2)
    # ranges are part of the atomic manifest: a resumed engine keeps pruning
    resumed = IncrementalAcyclicQuery(
        spark, state_dir, spec, compact_every=10, resume=True
    )
    assert resumed._seg_ts["events"] == ranges


# --- round 6: retry, Decimal event time, allowed-lateness delay --------------
def test_ttl_retry_after_midbatch_failure_still_evicts(spark, tmp_path):
    """The advisor's scenario: the watermark used to be advanced in-memory at
    the start of process_batch, so a batch failing AFTER that point and
    retried on the same instance saw old_wm == new_wm and skipped the
    eviction band — expired rows stayed in the result forever. With the
    snapshot/rollback wrapper, the retry re-advances the watermark from the
    committed value and the band is evicted exactly once."""
    eng = _engine(spark, tmp_path, _events_spec())
    b0 = [(i, i, f"c{i % 3}", i + 1, 1) for i in range(11)]  # days 0..10
    eng.process_batch(
        {"events": spark.createDataFrame(b0, EV_SCHEMA)}, batch_id=0
    )
    assert eng._watermarks["events"] == 10
    b1 = [(100, 30, "c0", 1000, 1)]  # day 30: horizon jumps to 20
    calls = {"i": 0}
    real = eng._commit_manifest

    def failing():
        if calls["i"] == 0:
            calls["i"] += 1
            raise RuntimeError("injected failure")
        return real()

    eng._commit_manifest = failing
    with pytest.raises(RuntimeError, match="injected"):
        eng.process_batch(
            {"events": spark.createDataFrame(b1, EV_SCHEMA)}, batch_id=1
        )
    # rollback: the failed attempt's watermark advance must not stick
    assert eng._watermarks["events"] == 10
    eng.process_batch(
        {"events": spark.createDataFrame(b1, EV_SCHEMA)}, batch_id=1
    )
    got = sorted(tuple(r) for r in eng.result().collect())
    assert got == _recompute(b0 + b1)  # only day-30 row survives horizon 20


def test_ttl_decimal_event_time_round_trips_manifest(spark, tmp_path):
    """A DECIMAL event-time column yields a Decimal watermark; the manifest
    must serialize it (tagged str round-trip) instead of failing every batch,
    and a resumed engine must see the exact Decimal back."""
    from decimal import Decimal

    schema = "e_key int, e_day decimal(10,2), e_cat string, e_val int, weight int"
    spec = AcyclicQuerySpec(
        relations=(
            RelSpec("events", ttl=("e_day", lambda wm: wm - F.lit(WINDOW))),
        ),
        group_by=("e_cat",),
        measures={"val": lambda: F.col("e_val")},
    )
    state_dir = str(tmp_path / "decwm")
    eng = IncrementalAcyclicQuery(spark, state_dir, spec)
    d = Decimal
    b0 = [(1, d("1.50"), "c0", 5, 1), (2, d("9.25"), "c1", 3, 1)]
    b1 = [(3, d("20.75"), "c0", 7, 1)]  # horizon 10.75: evicts day 1.50, 9.25
    eng.process_batch({"events": spark.createDataFrame(b0, schema)}, batch_id=0)
    eng.process_batch({"events": spark.createDataFrame(b1, schema)}, batch_id=1)
    assert eng._watermarks["events"] == d("20.75")
    got = {r["e_cat"]: r["val"] for r in eng.result().collect()}
    assert got == {"c0": 7}
    resumed = IncrementalAcyclicQuery(spark, state_dir, spec, resume=True)
    assert resumed._watermarks["events"] == d("20.75")
    assert isinstance(resumed._watermarks["events"], d)


def test_ttl_delay_keeps_rows_within_allowed_lateness(spark, tmp_path):
    """Allowed lateness composes into the horizon: a bounded-out-of-order
    source wants the effective watermark max_ts - allowed_lateness, so
    ``horizon(wm - delay)`` admits a row lagging the max by at most the
    delay where the raw watermark would have dropped it; the retained
    window widens by the delay."""
    spec = AcyclicQuerySpec(
        relations=(
            RelSpec("events", ttl=("e_day", lambda wm: wm - F.lit(5) - F.lit(WINDOW))),
        ),
        group_by=("e_cat",),
        measures={"val": lambda: F.col("e_val")},
    )
    eng = _engine(spark, tmp_path, spec)
    b0 = [(1, 100, "c0", 10, 1)]  # raw wm 100 -> eff wm 95 -> horizon 85
    # day 89 lags the max by 11 but sits above horizon 85: admitted (the raw
    # watermark's horizon 90 would have dropped it); day 80 is below: dropped
    b1 = [(2, 89, "c1", 7, 1), (3, 80, "c2", 3, 1)]
    eng.process_batch({"events": spark.createDataFrame(b0, EV_SCHEMA)}, batch_id=0)
    eng.process_batch({"events": spark.createDataFrame(b1, EV_SCHEMA)}, batch_id=1)
    got = {r["e_cat"]: r["val"] for r in eng.result().collect()}
    assert got == {"c0": 10, "c1": 7}


_DELAY = 4


@full_tier_only
@settings(max_examples=prop_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(batches=_BATCHES)
def test_ttl_delay_property_bounded_disorder_matches_widened_recompute(
    spark, tmp_path, batches
):
    """With allowed lateness D, the effective horizon is max - D - W, so the
    drained engine must equal the recompute over day >= max - (W + D) for ANY
    interleaving — in particular no row within D of the running max is ever
    dropped (it sits above every effective horizon by monotonicity)."""
    rows = [
        [(k, d, f"c{c}", v, w) for (k, d, c, v, w) in b] for b in batches
    ]
    flat = [r for b in rows for r in b]
    if not flat:
        return
    spec = AcyclicQuerySpec(
        relations=(
            RelSpec(
                "events",
                ttl=("e_day", lambda wm: wm - F.lit(_DELAY) - F.lit(WINDOW)),
            ),
        ),
        group_by=("e_cat",),
        measures={"val": lambda: F.col("e_val")},
    )
    got = _feed(spark, _engine(spark, tmp_path, spec), rows)
    assert got == _recompute(flat, window=WINDOW + _DELAY)


def test_ttl_zone_bucketed_state_stays_exact_across_compactions(spark, tmp_path):
    """ttl_zone inserts a coarse event-time zone ahead of the key sort in
    bucketed+ttl state writes — a pure LAYOUT refinement (rowgroup-level band
    pruning post-compaction, measured at sf1 by tools/ivm_ttl_scaling.py).
    Semantics must be untouched: the zoned engine tracks the plain ttl twin
    and the windowed recompute through appends, compactions, and eviction."""
    def spec(zone):
        return AcyclicQuerySpec(
            relations=(
                RelSpec(
                    "events",
                    ttl=("e_day", lambda wm: wm - F.lit(WINDOW)),
                    buckets=4,
                    bucket_key=("e_key",),
                    ttl_zone=zone,
                ),
            ),
            group_by=("e_cat",),
            measures={"val": lambda: F.col("e_val")},
        )

    got_zoned = _feed(
        spark, _engine(spark, tmp_path, spec("4"), compact_every=2), BATCHES
    )
    got_plain = _feed(
        spark, _engine(spark, tmp_path, spec(None), compact_every=2), BATCHES
    )
    want = _recompute([r for b in BATCHES for r in b])
    assert got_zoned == got_plain == want


def test_ttl_zone_spec_validation():
    with pytest.raises(ValueError, match="ttl_zone needs ttl"):
        RelSpec("events", ttl_zone="4")
    with pytest.raises(ValueError, match="not in second"):
        RelSpec(
            "events",
            ttl=("e_day", lambda wm: wm - F.lit(4)),
            ttl_zone="3 FORTNIGHTS",
        )
    with pytest.raises(ValueError, match="positive"):
        RelSpec(
            "events", ttl=("e_day", lambda wm: wm - F.lit(4)), ttl_zone="0"
        )


@full_tier_only
def test_ttl_merge_resumed_log_structured_matches_recompute(spark, tmp_path):
    """A merge-mode TTL stream resumed mid-stream with compact_every=3 while
    the window is sliding: post-resume eviction bands must read the
    APPENDED segments (manifest seg-ts ranges) as well as the netted
    merge-mode version. Each batch carries rows just above the horizon, so
    a row appended in one batch is evicted by the next. Every prefix equals
    a merge-mode twin, and the end result equals the windowed recompute."""
    batches = [
        [(100 * b + i, 3 * b + i % 3, f"c{i % 3}", b + i, 1) for i in range(8)]
        + [(100 * b + 50, 3 * b - 7, "c1", 5, 1)]  # evicted by batch b + 1
        + ([(100 * (b - 2), 3 * (b - 2), "c0", b - 2, -1)] if b >= 2 else [])
        for b in range(4)
    ]
    sdir = str(tmp_path / "switch")
    eng = IncrementalAcyclicQuery(spark, sdir, _events_spec())
    twin = _engine(spark, tmp_path, _events_spec())
    for i, rows in enumerate(batches):
        if i == 1:
            eng = IncrementalAcyclicQuery(
                spark, sdir, _events_spec(), compact_every=3, resume=True
            )
        eng.process_batch({"events": spark.createDataFrame(rows, EV_SCHEMA)}, batch_id=i)
        twin.process_batch({"events": spark.createDataFrame(rows, EV_SCHEMA)}, batch_id=i)
        if i == 2:  # two appended versions on top of the merge-mode version
            assert len(eng._segments["events"]) == 3
        assert sorted(tuple(r) for r in eng.result().collect()) == sorted(
            tuple(r) for r in twin.result().collect()
        )
    # three live versions left no append slot: netted into one version
    assert len(eng._segments["events"]) == 1 and eng._netted("events")
    got = sorted(tuple(r) for r in eng.result().collect())
    want = _recompute([r for b in batches for r in b])
    assert got == want and got  # exact and non-trivial
