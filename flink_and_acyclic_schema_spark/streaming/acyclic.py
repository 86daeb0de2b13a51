"""Generic incremental view maintenance for ANY acyclic FK-tree aggregate —
the reference's actual research thesis (Cquirrel), generalized.

The reference hand-compiles exactly ONE such query (TPC-H Q10) into five
keyed ProcessFunctions wired in main() (ref DataFlow.java:26-61:
nation→customer→orders→lineitem with per-relation filters and a grouped SUM
at the leaf). ``IncrementalQ10`` in incremental.py used to hand-wire the same
shape as PySpark joins. This module replaces hand-wiring with a declarative
spec: relations + FK-tree edges + per-relation delta filters + a grouped
aggregate, from which the engine derives the standard sequential delta-join
decomposition

    ΔJ = Σ_i  R1_new ⋈ … ⋈ R(i-1)_new ⋈ ΔR_i ⋈ R(i+1)_old ⋈ … ⋈ Rk_old

(weights multiply across joins) and folds ΔJ into grouped aggregate state
``measure += Σ w·expr, support += Σ w``; groups stay in state while
support ≠ 0 and surface while support > 0 — the signed-weight algebra that
replaces the reference's broken Alive/Dead tags (SURVEY.md §1.3, §8 B1-B3).

Beyond the reference (and beyond sum-only IVM engines generally): the spec
may declare NON-INVERTIBLE aggregates — MIN / MAX / COUNT(DISTINCT) — which
no running scalar can maintain under deletes (deleting the max loses the
runner-up). The engine maintains these from the same ΔJ via per-measure
VALUE-HISTOGRAM state, (group key…, value) → net weight, reduced at emission
over values whose net weight is positive; see ``AcyclicQuerySpec.
hist_measures``. AVG needs no engine support: declare SUM and COUNT measures
and divide in ``finalize`` (invertible aggregates compose). EXISTS subqueries
(SQL semi-joins) are nonlinear too — a step function of child multiplicity —
and are linearized via the DBSP distinct trick: a ``semi=True`` relation
participates through its 0/1 key-presence view, whose per-batch PRESENCE
DELTA (keys crossing zero) flows through the same decomposition
(``RelSpec.semi``). LEFT-OUTER preservation pads zero-match groups at
emission (``AcyclicQuerySpec.preserve``).

The relation list may be any *tree* linearization, not just a path: each
non-root relation's edge columns name its PARENT — the one other relation
holding them, earlier in the list — so star/branching schemas (e.g.
lineitem with orders, part, and supplier children) work unchanged. The
engine resolves that tree once per batch (``_tree``) and every join walk is
a restriction of it; an edge column held by no relation or by two, a parent
later in the list, or an anti gate with a child raises ``ValueError``.

CYCLIC join graphs — out of scope for the reference — are handled by the
standard spanning-tree reduction: pick a spanning tree of the join graph as
``relations`` and declare every non-tree edge (e.g. TPC-H Q5's
c_nationkey = s_nationkey back-edge) in ``residual``, a predicate applied to
every delta-join term after its tree join. This stays EXACT because the
telescoping decomposition is a multiset identity for the pure tree join and
selection is linear over multiset union/difference — σ_res distributes over
the terms unchanged. (Efficiency note: residual edges filter *after* the
tree join, exactly as a batch optimizer treats non-equi cycle edges; the
tree joins still prune on their FK keys first.)

Scale notes (100 TB): per-batch work is O(Δ ⋈ touched state), implemented —
not just argued — by two mechanisms. (1) DELTA-FIRST JOIN ORDER: each term is
evaluated by BFS outward from its delta over the join tree, so every
intermediate result is bounded by the delta's fan-out; the naive sequential
order would join full upstream states together before the delta restricts
them. (2) BUCKETED STATE + PARTITION-PRUNED READS: a relation with
``RelSpec.buckets`` persists its state hash-partitioned on
``bucket_key`` (a ``_bucket`` parquet partition column, the on-disk analogue
of a keyed state store's key-group layout); when a term probes it directly
from the delta, the engine collects the delta's bucket ids (≤ buckets ints,
a bounded driver read) and the state scan prunes to only those partition
directories; the delta's probe KEYS (≤ 1024, single-column) additionally
push into the scan as an ``In`` filter that parquet page/rowgroup statistics
of the key-sorted bucket files prune on — rows read track the delta's key
spread, not the state size (measured flat under 10× state growth with Δ held
fixed: tools/ivm_state_scaling.py, SCALE.md). Pruning is TRANSITIVE:
relations ≥2 tree hops from the delta are pruned from the accumulated
(delta-bounded) join's probe-key set — one capped, early-terminating collect
per term — so the whole tree's state reads track the delta neighbourhood;
probe sets wider than the cap degrade to the plain full-scan join.
Filters are applied to deltas at ingest so state only ever holds
filter-surviving tuples — the same state-size reduction the
reference's alive-gating achieves.

BOUNDED STATE FOR UNBOUNDED STREAMS (``RelSpec.ttl``): the reference's host
engine (Flink) bounds keyed state with event-time watermarks and state TTL;
its demo query never does, so state grows with stream lifetime. Declaring
``ttl=(ts_col, horizon)`` gives a relation a watermark — the running max
event time over its ingested deltas, persisted in the manifest — and the
maintained result becomes the aggregate over the sliding window
[horizon(wm), wm]: delta rows below the horizon are dropped at ingest (the
late-data policy; necessary, or a late row would sit in state forever once
the eviction band has swept past it), and state rows crossing the horizon
are EVICTED by re-feeding them through the batch as ordinary retraction
deltas — joins, presence gates, value histograms, HAVING, and chains all
retract through the existing algebra. Eviction reads only the closing band
[old horizon, new horizon), a pushed range filter that parquet rowgroup
statistics prune (tight when arrivals are roughly event-ordered so each
segment spans a narrow time range; a hash-ordered backfill degrades the
band read to a filtered state scan — still O(state)/batch worst case, but
state itself stays window-bounded, which is the claim that matters at
100 TB: tools/ivm_ttl_scaling.py measures the plateau). Lateness is
monotone (the horizon only advances), so every row at or above the FINAL
horizon is never dropped and the drained result equals a from-scratch
recompute over ``ts >= horizon(max ts)`` regardless of arrival interleaving
(tests/test_acyclic_ttl.py).
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import threading
import time
import uuid
from collections.abc import Callable, Mapping
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .topk import _bucket_expr, _dump_value, _load_value, _norm_order, _run_parallel

WEIGHT = "weight"
BUCKET = "_bucket"  # reserved: hash-bucket partition column of bucketed state


def _zone_width(spec: str) -> float:
    """Zone width in the ts column's native unit: a bare number (numeric ts
    columns), or "N UNIT" with UNIT in seconds/minutes/hours/days/weeks
    (date/timestamp columns — width in epoch seconds)."""
    parts = str(spec).split()
    if len(parts) == 1:
        w = float(parts[0])
    else:
        n, unit = parts
        mult = {
            "SECOND": 1,
            "MINUTE": 60,
            "HOUR": 3600,
            "DAY": 86400,
            "WEEK": 604800,
        }.get(unit.upper().rstrip("S"))
        if mult is None:
            raise ValueError(f"ttl_zone unit {unit!r} not in second/minute/hour/day/week")
        w = float(n) * mult
    if w <= 0:
        raise ValueError(f"ttl_zone width must be positive, got {spec!r}")
    return w


def _range_hits(rng: tuple | None, lo, hi) -> bool:
    """Can a segment whose ts values lie in ``rng`` contain rows of the band
    [lo, hi)? ``None`` bounds are unbounded; unknown ranges must be read —
    stale-wide ranges cost reads, never correctness."""
    if rng is None:
        return True
    mn, mx = rng
    if hi is not None and mn is not None and mn >= hi:
        return False
    if lo is not None and mx is not None and mx < lo:
        return False
    return True


def _range_union(ranges) -> tuple:
    """Smallest (lo, hi) superset of the given (possibly None-bounded)
    ranges; None propagates as unbounded."""
    ranges = [r for r in ranges if r is not None]
    if not ranges:
        return (None, None)
    lo = None if any(r[0] is None for r in ranges) else min(r[0] for r in ranges)
    hi = None if any(r[1] is None for r in ranges) else max(r[1] for r in ranges)
    return (lo, hi)


def _join_on_keys(df: DataFrame, other: DataFrame, on: list[str], how: str) -> DataFrame:
    """``df`` joined to ``other`` on equal ``on`` columns, NULL matching
    NULL: a group key holding a NULL is still one group of the view. The
    result keeps ``df``'s copy of each key column."""
    keys = {c: f"_k_{c}" for c in on}
    other = other.select(*[F.col(c).alias(keys.get(c, c)) for c in other.columns])
    cond = reduce(Column.__and__, [F.col(c).eqNullSafe(F.col(k)) for c, k in keys.items()])
    return df.join(other, cond, how).drop(*keys.values())


@dataclass(frozen=True)
class RelSpec:
    """One relation (tree node) of an acyclic query.

    ``join_on`` = (own_col, earlier_col) — or, for a COMPOSITE foreign key, a
    tuple of such pairs ``((own1, earlier1), (own2, earlier2), …)`` ANDed
    together: the equi-join predicate linking this relation to its PARENT,
    the one other relation holding every ``earlier`` column, which must
    come earlier in the spec order and must not be an anti gate — the FK
    edge of the tree (ref DataFlow.java:45-57 keyBy wiring). The first
    relation has ``join_on=None``.

    ``delta_filter`` is applied to this relation's deltas at ingest (ref ops
    #8/#10 — the σ boxes of the dataflow); state never holds filtered-out
    rows. ``project`` then prunes the delta to the named columns (+ weight)
    so state never holds columns the query doesn't touch — the π twin of the
    σ gating, and the state-size lever at 100 TB where base rows are wide.
    ``broadcast_state`` marks dimension-sized relations whose state and
    deltas should broadcast in every delta-join term (e.g. nation). A batch
    whose whole input is small enough to fold in one task (see
    ``IncrementalAcyclicQuery._fits_one_task``) broadcasts nothing, this
    relation included.

    ``semi=True`` makes this relation an EXISTS gate (SQL semi-join): it
    contributes ONLY the 0/1 presence of its join key(s), never tuple
    multiplicities or non-key columns. Presence is a *nonlinear* (step)
    function of the multiset, so the engine converts it back into a linear
    changelog — the DBSP ``distinct`` trick: the relation's raw weighted
    state is maintained as usual, and each batch derives a PRESENCE DELTA
    (+1/−1 per key whose net count crossed zero, computed only for keys the
    batch touched — O(Δ ⋈ state-by-key)), which then flows through the same
    delta-join decomposition. Duplicate children therefore do NOT
    double-count parents, and deleting one of two copies changes nothing
    while deleting the last copy retracts the parent — exact EXISTS
    semantics under retraction. ``delta_filter`` composes: the gate is
    EXISTS(child WHERE pred).

    ``anti=True`` is the NOT-EXISTS twin: the parent contributes iff NO
    qualifying child key is present. Since anti-weight = (1 − presence), the
    engine compiles the gate by inclusion–exclusion: maintain the query
    WITHOUT the gate minus the query WITH it as a semi gate — per batch,
    both decompositions' delta terms fold into ONE aggregate state, the
    semi-tree terms with negated weights. Deleting the last qualifying child
    makes the parent APPEAR; inserting the first makes it retract.

    ``buckets``/``bucket_key`` persist this relation's state hash-partitioned
    on ``bucket_key`` (a ``_bucket`` parquet partition column — the on-disk
    twin of a keyed state store's key groups). Terms that probe the relation
    directly from a delta on its tree neighbour then prune the state scan to
    the delta's bucket ids: per-batch state IO tracks Δ's key spread, not
    state size. Declare ``bucket_key`` as the columns the relation is PROBED
    on by the high-churn neighbour (e.g. lineitem state bucketed by
    ``l_orderkey`` for orders deltas). ``_bucket`` is a reserved column name.
    The bucket count is fixed for the life of a state dir, like a keyed
    state store's key-group count: every segment shares one layout, and a
    different count needs a fresh state dir (a re-bootstrap), not a resume.

    ``ttl=(ts_col, horizon)`` (watermark-driven retention): ``horizon`` maps
    the relation's watermark — a typed literal Column holding the running
    max of ``ts_col`` over ingested deltas — to the window's lower bound,
    e.g. ``lambda wm: wm - F.expr("INTERVAL 90 DAYS")``. Rows below the
    horizon are dropped at ingest; state rows crossing it are evicted as
    retraction deltas, so the maintained aggregate covers the sliding window
    and state stays window-bounded however long the stream runs (module
    docstring, 'bounded state'). Rows with NULL ``ts_col`` are never late
    and never evicted. Advancing the watermark costs one bounded (1-row)
    driver read per batch. Allowed lateness for an out-of-order source is
    part of the horizon: ``lambda wm: horizon(wm - delay)`` keeps every row
    that lags the max by at most ``delay``.
    """

    name: str
    join_on: tuple | None = None
    delta_filter: Callable[[DataFrame], DataFrame] | None = None
    project: tuple[str, ...] | None = None
    broadcast_state: bool = False
    semi: bool = False
    anti: bool = False
    buckets: int = 0
    bucket_key: tuple[str, ...] | None = None
    # (ts_col, horizon) — see class docstring
    ttl: tuple | None = None
    # ttl_zone (bucketed+ttl relations): a coarse event-time zone width —
    # "30 DAYS", "6 HOURS", or a plain number for numeric ts columns — that
    # state writes sort by WITHIN each bucket, ahead of the key sort:
    # rowgroups then cluster by time zone (narrow ts min/max, so the
    # eviction band's pushed range predicate prunes by ROWGROUP even in the
    # single post-compaction segment that spans the whole window) while keys
    # stay sorted within a zone (a probe-key In filter reads at most one
    # rowgroup run per zone instead of one per segment). Without it a
    # bucketed+ttl relation keeps the pure key sort and band reads prune at
    # segment granularity only.
    ttl_zone: str | None = None

    def __post_init__(self):
        if self.ttl is not None and len(self.ttl) != 2:
            raise ValueError(f"relation {self.name!r}: ttl must be (ts_col, horizon)")
        if self.ttl_zone is not None:
            if self.ttl is None:
                raise ValueError(
                    f"relation {self.name!r}: ttl_zone needs ttl (it is a "
                    "sort refinement of event-time state)"
                )
            _zone_width(self.ttl_zone)  # validate parseability at spec time
        if self.ttl is not None and self.project is not None:
            if self.ttl[0] not in self.project:
                raise ValueError(
                    f"relation {self.name!r}: ttl column {self.ttl[0]!r} must "
                    f"be in project={self.project} (state must retain the "
                    "event-time column to evict on it)"
                )

    def join_pairs(self) -> tuple[tuple[str, str], ...]:
        """Normalize ``join_on`` to a tuple of (own, earlier) pairs."""
        if self.join_on is None:
            return ()
        if isinstance(self.join_on[0], (tuple, list)):
            return tuple((o, e) for o, e in self.join_on)
        own, earlier = self.join_on
        return ((own, earlier),)


@dataclass(frozen=True)
class TopKSpec:
    """Continuous ``ORDER BY order_by [DESC] LIMIT k`` over the maintained
    view — the clause the reference DROPPED from its intended query (its
    dataflow has no ordered-emission operator anywhere, ref
    DataFlow.java:26-61). Declared on ``AcyclicQuerySpec.top_k``, the engine
    wires the right maintained structure itself: a bounded driver-side
    candidate buffer for the GLOBAL form (streaming/topk.py TopKView), or
    group-sharded Spark-side candidate state when ``partition_by`` names
    grouping columns (GroupedTopKView — the continuous
    ``row_number() OVER (PARTITION BY …) <= k``). The engine folds each
    batch into the structure before its own manifest commit and records the
    structure's state inside that manifest (the grouped form's parquet
    shards live under ``<state_dir>/topk``), so the engine and its top-k
    commit, roll back, resume and skip crash-replayed batches as one.

    ``key`` is the unique key of EMITTED rows used as the deterministic
    ascending tiebreak (``ORDER BY v DESC, key``); default: the spec's
    group_by minus ``partition_by`` — always safe, since group_by IS the
    view's unique key. An EXPLICIT key narrower than that asserts a
    functional dependency: key → (the remaining group columns), e.g.
    continuous Q3's ``l_orderkey`` determining ``o_orderdate`` and
    ``o_orderpriority`` through the join. If the FD does not actually hold,
    distinct view rows sharing the key silently collapse in the maintained
    structure's keyed upsert — the engine cannot check an FD statically, so
    declare a narrow key only when the schema guarantees it. ``slack``
    extra buffered rows amortize refills over ≥slack top-region deletions
    (default k)."""

    k: int
    # a single emitted column name, or a tuple of names / (name,
    # "asc"|"desc") pairs for a multi-key ORDER BY (e.g. continuous Q3's
    # ``revenue DESC, o_orderdate``); bare names rank descending
    order_by: str | tuple
    partition_by: tuple[str, ...] = ()
    key: tuple[str, ...] | None = None
    slack: int | None = None
    # per-group form only: also maintain the top-k view's OWN ±changelog
    # per batch (read with topk_delta()) — two extra ranks over the touched
    # shards per batch, so opt-in. The global form emits for free (O(k)
    # driver diff) and ignores this flag.
    emit_changelog: bool = False

    def __post_init__(self):
        if self.k < 1:
            raise ValueError("top_k: k must be >= 1")
        _norm_order(self.order_by)  # fail bad shapes at spec time


@dataclass(frozen=True)
class AcyclicQuerySpec:
    """Declarative spec of a continuously-maintained acyclic-tree aggregate:
    roughly ``SELECT group_by, SUM(measure)… FROM ⋈tree WHERE filters
    GROUP BY … [HAVING …] [ORDER BY … LIMIT k]`` kept incrementally correct
    under inserts AND deletes on every base relation."""

    relations: tuple[RelSpec, ...]
    group_by: tuple[str, ...]
    # name -> zero-arg Column factory (lazy so specs can be module-level
    # constants without touching Spark at import time)
    measures: Mapping[str, Callable[[], Column]] = field(default_factory=dict)
    # NON-INVERTIBLE aggregates (beyond the reference's sum-only weight
    # algebra): name -> (kind, value_expr), kind in {"min","max",
    # "count_distinct"}. A deletion can retire the current extremum, and no
    # running scalar can recover the runner-up — so the engine maintains a
    # VALUE HISTOGRAM per measure: extra state keyed by (group_by…, value)
    # with a net signed weight, updated from the same ΔJ. Emission takes
    # min/max/count over values with net weight > 0, so deleting the max
    # steps the result down to the runner-up exactly as a from-scratch
    # recompute would. State is O(groups × distinct values) — the honest
    # lower bound for these aggregates; at 100 TB the same histogram shards
    # by (group, value) like any keyed state (or becomes a tree-of-extrema
    # if values are dense). Exact under the standard multiset reading, i.e.
    # net per-tuple multiplicities stay ≥ 0.
    hist_measures: Mapping[str, tuple[str, Callable[[], Column]]] = field(
        default_factory=dict
    )
    # residual (non-tree) join edges for CYCLIC queries: a predicate over the
    # joined row, applied to every delta-join term after its tree join —
    # exact by linearity of selection over the multiset decomposition. E.g.
    # Q5's back-edge: lambda: F.col("c_nationkey") == F.col("s_nationkey")
    residual: Callable[[], Column] | None = None
    # LEFT-OUTER preservation (continuous Q13 shape): name ONE relation whose
    # groups must surface even with zero joining tuples — every group_by
    # column must come from it. Emission unions in a padded row (measures
    # NULL; coalesce defaults in ``finalize``) for each distinct group in
    # that relation's live state (net weight > 0, after its delta_filter)
    # that the inner aggregate doesn't surface. The retraction hard case
    # falls out of state separation: deleting a customer's LAST order drains
    # inner support, and the customer re-emerges as a padded row because its
    # own state row still lives — no special delta handling needed. ``having``
    # applies AFTER padding (NULL measures fail comparisons, SQL semantics).
    preserve: str | None = None
    # optional predicate over the maintained result columns (Q18's
    # HAVING SUM(l_quantity) > t — evaluated at emission, state keeps all
    # groups so the predicate can flip both ways under deletes); may also
    # reference hist_measures names
    having: Callable[[], Column] | None = None
    # optional final projection/cast applied to the emitted DataFrame
    finalize: Callable[[DataFrame], DataFrame] | None = None
    # optional continuous ORDER BY/LIMIT over the emitted view (TopKSpec):
    # the engine feeds its own emit_delta changelog into a maintained top-k
    # structure each batch; read it with ``topk_result()``. order_by / key /
    # partition_by name EMITTED columns (post-finalize).
    top_k: TopKSpec | None = None

    def __post_init__(self):
        if not self.relations:
            raise ValueError("spec needs at least one relation")
        if self.relations[0].join_on is not None:
            raise ValueError("first relation must have join_on=None (tree root)")
        for r in self.relations[1:]:
            if r.join_on is None:
                raise ValueError(f"non-root relation {r.name!r} needs join_on")
        names = [r.name for r in self.relations]
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate relation names: {names}")
        for name, (kind, _) in self.hist_measures.items():
            if kind not in ("min", "max", "count_distinct"):
                raise ValueError(
                    f"hist measure {name!r}: unknown kind {kind!r} "
                    "(expected min/max/count_distinct)"
                )
        clash = set(self.hist_measures) & (set(self.measures) | set(self.group_by))
        if clash:
            raise ValueError(f"hist measure names collide: {sorted(clash)}")
        if self.preserve is not None and self.preserve not in names:
            raise ValueError(
                f"preserve={self.preserve!r} is not a spec relation: {names}"
            )
        if self.preserve is not None and not self.group_by:
            raise ValueError("preserve requires a non-empty group_by")
        for r in self.relations:
            if (r.semi or r.anti) and r.join_on is None:
                raise ValueError(f"gate relation {r.name!r} must be non-root")
            if r.semi and r.anti:
                raise ValueError(f"relation {r.name!r} cannot be both semi and anti")
        if self.preserve is not None:
            (p,) = [r for r in self.relations if r.name == self.preserve]
            if p.semi or p.anti:
                raise ValueError("preserve relation cannot be a semi/anti gate")
        if self.top_k is not None:
            key = self.top_k.key or tuple(
                c for c in self.group_by if c not in self.top_k.partition_by
            )
            if not key:
                raise ValueError(
                    "top_k needs a unique row key: group_by minus "
                    "partition_by is empty — set TopKSpec.key"
                )
            if set(self.top_k.partition_by) & set(key):
                raise ValueError("top_k: partition_by and key must be disjoint")
        n_anti = sum(1 for r in self.relations if r.anti)
        if n_anti > 3:
            raise ValueError(
                f"{n_anti} anti gates expand to 2**{n_anti} inclusion-"
                "exclusion trees per delta; decorrelate the extra NOT-EXISTS "
                "gates via chained views (emit_delta) instead"
            )
        for r in self.relations:
            if r.buckets < 0:
                raise ValueError(f"relation {r.name!r}: buckets must be >= 0")
            if r.buckets > 0 and not r.bucket_key:
                raise ValueError(f"relation {r.name!r}: buckets > 0 needs bucket_key")
            if r.bucket_key and not r.buckets:
                raise ValueError(f"relation {r.name!r}: bucket_key needs buckets > 0")
            if (r.semi or r.anti) and r.buckets > 0:
                own = tuple(o for o, _ in r.join_pairs())
                if tuple(r.bucket_key) != own:
                    raise ValueError(
                        f"gate relation {r.name!r} must bucket by its join "
                        f"keys {own}: presence grouping carries _bucket only "
                        "when the bucket is key-determined"
                    )


class IncrementalAcyclicQuery:
    """IVM state machine for one AcyclicQuerySpec.

    Feed ``process_batch({rel: weighted_delta_df, ...})`` per micro-batch
    (each delta carries the relation's columns + a signed ``weight``); read
    the maintained result any time with ``result()``. Relations absent from a
    batch are treated as Δ=∅: their term is skipped and their state is not
    rewritten — per-batch cost tracks the delta, not the schema. A relation
    present with an EMPTY delta is skipped the same way once it has
    committed state (see ``_skippable``), unless every delta is empty.
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        spec: AcyclicQuerySpec,
        compact_every: int = 1,
        resume: bool = False,
    ):
        """``compact_every`` bounds the live versions of a state. Every
        state commit follows ONE rule (``_commit_state``): a state holding 1
        to ``compact_every − 1`` live versions APPENDS the batch's delta as
        one more version (per-batch IO O(Δ)); any other state — none yet, or
        its last append slot used — nets old ∪ Δ into one new version
        (per-batch IO O(state)).

        - ``1`` (default): every commit nets — merge-and-rewrite, so state
          files always hold the net multiset (simplest to inspect).
        - ``k > 1``: LOG-STRUCTURED state — a netted version followed by up
          to k − 1 appended deltas (the actual IVM promise at 100 TB), netted
          again every k-th batch. Correct by LINEARITY of the weight algebra:
          an unmerged union of weighted versions behaves identically to the
          merged state in every join (weights multiply) and aggregate
          (weights sum) — a (+1, −1) pair contributes exactly zero — so
          netting is purely an IO/size optimization, never a semantics change
          (test_acyclic_ivm.py::test_log_structured_state_equivalent).
          MEASURED (round 10, LOG_STRUCTURED_AMORTIZATION.json): over a
          16-batch sf1 stream, ``compact_every=3`` totals ~18% less engine
          time than merge-mode — non-compaction batches skip the full-state
          shuffle (~5.2 s vs ~7.6 s/batch), every k-th pays the compaction
          (~9-10 s) — so it is the recommended regime for LONG-RUNNING
          streams; the default stays 1 (simplest to inspect, and short
          pipelines never amortize the compaction).

        ``compact_every`` is a property of the engine instance, not of the
        state dir: a stream may be resumed under any value. Live state that
        is not a single netted version is netted on read, and netted by the
        next commit wherever the rule leaves no append slot.

        ``resume=True`` reattaches to an existing state dir: state is loaded
        from the last atomically-committed MANIFEST (see ``process_batch``),
        uncommitted leftovers from a crashed batch are garbage-collected, and
        replayed micro-batches (batch_id ≤ last committed) are skipped — the
        idempotence a foreachBatch sink needs for exactly-once semantics
        after Structured Streaming checkpoint recovery, where the engine's
        state commit is not transactional with Spark's offset commit. The
        spec must be the one the state was written with. The manifest
        records the spec's structural shape (``_spec_shape``: per relation
        its name, join pairs, projection, bucket layout, semi/anti gate, ttl
        column and zone; the group-by, measure names, histogram kinds,
        ``preserve`` and the ``top_k`` fields), and resume raises
        ``ValueError`` when it differs. Callables — filters, measure
        expressions, ttl horizons, ``having``, ``finalize``, ``residual`` —
        cannot be compared and are not checked.
        """
        self.spark = spark
        self.state_dir = state_dir
        self.spec = spec
        if not isinstance(compact_every, int) or compact_every < 1:
            raise ValueError("compact_every must be an integer >= 1")
        self.compact_every = compact_every
        # per-state version counter (monotone; every write is the path
        # ``{rel}_v{n}``, so a batch never reads and overwrites the same files)
        self._version: dict[str, int] = {r.name: 0 for r in spec.relations}
        self._version["agg"] = 0
        for name in spec.hist_measures:
            self._version[f"hist::{name}"] = 0
        self._segments: dict[str, list[str]] = {}  # rel -> live on-disk paths
        # rel -> StructType, pinned at first delta and committed in the
        # manifest, so a resumed engine reads and sizes state without inference
        self._schemas: dict[str, StructType] = {}
        self._last_batch: int | None = None  # last committed batch_id
        # rel -> python max event-time value seen (RelSpec.ttl); part of the
        # atomic manifest commit — losing it would re-admit late rows
        self._watermarks: dict[str, object] = {}
        # ttl rel -> {segment path: (min_ts|None, max_ts|None)} — a SUPERSET
        # range per live segment (None = unbounded), tracked driver-side so
        # the eviction band read SKIPS whole segments that can't intersect
        # [old horizon, new horizon). Stale-wide ranges only cost extra
        # reads, never correctness. This is what gives bucketed+ttl
        # relations (whose files are key-sorted, not ts-sorted) band pruning
        # at segment granularity.
        self._seg_ts: dict[str, dict[str, tuple]] = {}
        self._by_name = {r.name: r for r in spec.relations}
        # state (relation, "agg", "hist::<name>") -> post-commit row count
        # (exact after every net, an UPPER BOUND while appended versions
        # accumulate — appends add their row count, nets only shrink it).
        # Rides every state write's observe() for free.
        # It feeds the cost-based probe-pruning gate (_prune_worthwhile
        # against PRUNE_MIN_STATE_ROWS, optimization r11: pruning a state
        # whose full scan is cheaper than the probe's two driver round-trips
        # is a net loss at any scale), and the next net's row bound, which
        # nets a small state in one task (_write_state).
        self._state_rows: dict[str, int] = {}
        # last persisted emitted-changelog {"batch": id, "path": dir,
        # "schema": StructType JSON} — lets a crash-replayed batch hand
        # downstream engines the exact view delta, read without inference
        self._emitted: dict | None = None
        # fold observability (round 9): instrument=True scopes every action
        # point of a batch in a phase-tagged job group; after process_batch,
        # ``last_profile`` maps phase -> {"jobs", "stages", "sec"} — the
        # jobs-per-batch breakdown the per-batch latency budget is made of.
        # Lazy evaluation attributes a job to the phase whose ACTION ran it
        # (e.g. without emit_delta the whole ΔJ executes inside agg_write).
        self.instrument = False
        self.last_profile: dict[str, dict] = {}
        self._phase_seq = 0
        self._profile_lock = threading.Lock()
        # engine-unique job-group namespace: two instrumented engines in one
        # JVM (e.g. a profiler's repeat run) would otherwise reuse gids and
        # getJobIdsForGroup would attribute BOTH engines' jobs to each
        self._phase_tag = uuid.uuid4().hex[:8]
        # round 10/11: telescoped ΔJ over tree-shaped virtual trees
        # (_factored_chain) — shares the new-relation joins across delta
        # terms. On by default (exact by distributivity); False forces the
        # per-term path the equivalence tests compare against — the flag is
        # plan-shape-only (results are identical either way), so it is not
        # persisted. last_factored counts virtual trees
        # the last batch folded via the factored path; last_checkpoints
        # counts the term-build localCheckpoint materializations of the
        # last batch (transitive-probe partials + factored-B unions) — the
        # fold profile's guard against deep chains inverting the factored
        # win via O(depth) re-materializations.
        self.factor_terms = True
        self.last_factored = 0
        self.last_checkpoints = 0
        # did the last batch fold its delta join in one task
        # (_fits_one_task)? Read by the join steps and the emit stage while
        # the batch runs; plan-shape-only, so not persisted
        self.last_one_task = False
        # instrument-only: rel -> eviction-band rows read by the last batch
        self.last_evicted: dict[str, int] = {}
        # spec-level continuous ORDER BY/LIMIT (TopKSpec): the maintained
        # top-k structure, whose state this engine's manifest carries
        self._topk = None
        t = spec.top_k
        if t is not None:
            from .topk import GroupedTopKView, TopKView

            key = t.key or tuple(c for c in spec.group_by if c not in t.partition_by)
            if t.partition_by:
                self._topk = GroupedTopKView(
                    t.k,
                    t.order_by,
                    t.partition_by,
                    key,
                    refill=self.result,
                    state_dir=os.path.join(state_dir, "topk"),
                    spark=spark,
                    slack=t.slack,
                    emit=t.emit_changelog,
                )
            else:
                self._topk = TopKView(
                    t.k, t.order_by, key, refill=self.result, spark=spark, slack=t.slack
                )
        if resume and os.path.exists(self._manifest_path()):
            self._load_manifest()
        else:
            if os.path.exists(state_dir):
                shutil.rmtree(state_dir)
            os.makedirs(state_dir)

    # --- manifest (atomic commit point) -------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.state_dir, "MANIFEST.json")

    def _commit_manifest(self) -> None:
        """Atomically publish the post-batch state of the engine AND its
        top-k: every referenced path is fully written by now, and the
        manifest is staged to ``.tmp`` and swapped in with one atomic
        ``os.replace`` — the batch's one commit point — so a crash at ANY
        point leaves either the old or the new state fully consistent (orphan
        dirs are GC'd on resume). The engine's in-memory fields are the
        staging area itself (``_snapshot``/``_restore`` roll them back on
        failure). The manifest holds the ``_snapshot`` fields, with
        watermark values and state schemas JSON-encoded, and the spec's
        shape."""
        data = self._snapshot()
        data["watermarks"] = {r: _dump_value(v) for r, v in data["watermarks"].items()}
        data["schemas"] = {rel: s.jsonValue() for rel, s in data["schemas"].items()}
        data["seg_ts"] = {
            rel: {p: [_dump_value(lo), _dump_value(hi)] for p, (lo, hi) in m.items()}
            for rel, m in data["seg_ts"].items()
        }
        data["spec"] = self._spec_shape()
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(data, fh)
        os.replace(tmp, self._manifest_path())

    def _spec_shape(self) -> dict:
        """The spec's structural shape as JSON: what the committed state's
        layout depends on and a resume can compare. Callables are left out —
        they cannot be compared."""
        s, t = self.spec, self.spec.top_k
        return json.loads(
            json.dumps(
                {
                    "relations": [
                        {
                            "name": r.name,
                            "join": r.join_pairs(),
                            "project": r.project,
                            "buckets": r.buckets,
                            "bucket_key": r.bucket_key,
                            "semi": r.semi,
                            "anti": r.anti,
                            "ttl": r.ttl and r.ttl[0],
                            "ttl_zone": r.ttl_zone,
                        }
                        for r in s.relations
                    ],
                    "group_by": s.group_by,
                    "measures": list(s.measures),
                    "hist": {n: kind for n, (kind, _) in s.hist_measures.items()},
                    "preserve": s.preserve,
                    "top_k": t and {**asdict(t), "order_by": _norm_order(t.order_by)},
                }
            )
        )

    def _load_manifest(self) -> None:
        """Load the committed manifest: exactly the ``_snapshot`` fields and
        the spec's shape, each required. A manifest of another format — a
        field missing, or one this engine does not write — raises
        ``KeyError``, and a spec whose shape differs from the recorded one
        raises ``ValueError``: the state need not match the spec (e.g. a
        bucket layout other than ``RelSpec.buckets``), so resume with the
        spec the state was written with, or delete the state dir and
        re-run."""
        with open(self._manifest_path()) as fh:
            data = json.load(fh)
        extra = set(data) - {*self._snapshot(), "spec"}
        if extra:
            raise KeyError(f"manifest fields this engine does not read: {sorted(extra)}")
        shape = self._spec_shape()
        if data["spec"] != shape:
            diff = [k for k, v in shape.items() if data["spec"].get(k) != v]
            raise ValueError(
                f"resume: the spec differs in {diff} from the one {self.state_dir} "
                "was written with; resume with that spec or delete the state dir"
            )
        self._version = data["version"]
        self._segments = data["segments"]
        self._schemas = {rel: StructType.fromJson(s) for rel, s in data["schemas"].items()}
        self._last_batch = data["last_batch"]
        self._emitted = data["emitted"]
        self._state_rows = data["state_rows"]
        self._watermarks = {r: _load_value(v) for r, v in data["watermarks"].items()}
        self._seg_ts = {
            rel: {p: (_load_value(v[0]), _load_value(v[1])) for p, v in m.items()}
            for rel, m in data["seg_ts"].items()
        }
        topk = data["topk"]  # required without a top_k too: one manifest format
        # GC anything the committed manifest doesn't reference — partial
        # writes of a crashed batch, or superseded dirs whose cleanup the
        # crash interrupted
        live = {os.path.basename(p) for paths in self._segments.values() for p in paths}
        if self._emitted is not None:
            live.add(os.path.basename(self._emitted["path"]))
        for entry in os.listdir(self.state_dir):
            # "topk" holds the grouped top-k's shards, which it GCs itself
            if entry.startswith("MANIFEST") or entry == "topk":
                continue
            if entry not in live:
                shutil.rmtree(os.path.join(self.state_dir, entry), ignore_errors=True)
        if self._topk is not None:
            self._topk.load(topk)
            self._topk._gc()

    # --- state I/O ----------------------------------------------------------
    def _path(self, rel: str, version: int) -> str:
        return os.path.join(self.state_dir, f"{rel}_v{version}")

    def _read_paths(self, rel: str, paths: list[str]) -> DataFrame:
        if rel not in self._schemas:
            raise ValueError(
                f"relation {rel!r} has no state and no delta seen yet — "
                "the first micro-batch must carry at least one row (or an "
                "empty typed delta) for every relation in the spec"
            )
        if not paths:
            return self.spark.createDataFrame([], self._schemas[rel])
        # ONE multi-path read with the pinned schema, not a per-segment read
        # + unionByName chain: per-segment reads cost a driver-side
        # footer/schema inference EACH, making every batch O(live segments)
        # of driver work — measured as a +0.1 s/batch creep in log-structured
        # mode (tools/ivm_batch_scaling).
        reader = self.spark.read.schema(self._schemas[rel])
        r = self._by_name.get(rel)
        if r is not None and r.buckets > 0 and len(paths) > 1:
            # multiple ``_bucket``-partitioned segment roots cannot share one
            # partition-discovery pass (CONFLICTING_DIRECTORY_STRUCTURES):
            # read each root and union. The pinned schema keeps this free of
            # per-segment footer reads, bucket/partition pruning pushes into
            # every branch of the union, and compaction bounds its width.
            return reduce(
                lambda a, b: a.unionByName(b), [reader.parquet(p) for p in paths]
            )
        return reader.parquet(*paths)

    def _read_state(self, rel: str) -> DataFrame:
        """Current state = union of live segments. In log-structured mode the
        union is UNMERGED — correct by linearity of the weight algebra."""
        return self._read_paths(rel, self._segments.get(rel, []))

    def _conform(self, rel: str, df: DataFrame) -> DataFrame:
        """Pin (first sight) and enforce the relation's canonical STATE schema.

        Aggregation widens types — SUM(int) is long, SUM(DECIMAL(p,s)) is
        DECIMAL(p+10,s), growing again at every re-compaction — so without a
        fixed write schema, segments of one relation drift apart and a pinned
        multi-path read fails with PARQUET_COLUMN_DATA_TYPE_MISMATCH. The
        canonical schema is the first delta's schema with ``weight`` (and
        ``support``) widened to long once, up front; every state write casts
        back to it, so all segments of a relation are forever bit-compatible.
        DECIMAL re-narrowing to the declared measure type is lossless for any
        realistic multiset (DECIMAL(22,4) holds 10^18).

        Bucketed relations additionally gain the ``_bucket`` column here
        (hash of ``bucket_key``), so every state write can partition on it."""
        r = self._by_name.get(rel)
        if r is not None and r.buckets > 0 and BUCKET not in df.columns:
            df = df.withColumn(BUCKET, _bucket_expr(r.bucket_key, r.buckets))
        if rel not in self._schemas:
            wide = df
            for c in (WEIGHT, "support"):
                if c in wide.columns:
                    wide = wide.withColumn(c, F.col(c).cast("long"))
            self._schemas[rel] = wide.schema
        schema = self._schemas[rel]
        return df.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
        )

    @staticmethod
    def _net(df: DataFrame) -> DataFrame:
        """Net-weight multiset reduction. Keeps every nonzero net weight —
        negative included, so delete-before-insert across batches cancels
        exactly (property-tested in tests/test_changelog_properties.py)."""
        cols = [c for c in df.columns if c != WEIGHT]
        return (
            df.groupBy(*cols)
            .agg(F.sum(WEIGHT).alias(WEIGHT))
            .filter(F.col(WEIGHT) != 0)
        )

    @staticmethod
    def _presence(df: DataFrame, keys: list[str]) -> DataFrame:
        """0/1 key-presence view of a weighted multiset: distinct keys with
        positive net count, each carrying weight 1 (the linearizing output of
        the DBSP-style distinct operator for EXISTS gates). A bucketed gate's
        ``_bucket`` rides along (key-determined by spec validation, so groups
        are unchanged) — a later bucket filter then pushes below this
        aggregate into the partition-pruned state scan."""
        extra = [BUCKET] if BUCKET in df.columns else []
        return (
            df.groupBy(*keys, *extra)
            .agg(F.sum(WEIGHT).alias(WEIGHT))
            .filter(F.col(WEIGHT) > 0)
            .select(*keys, *extra)
            .withColumn(WEIGHT, F.lit(1))
        )

    def _agg_net(self, df: DataFrame) -> DataFrame:
        """Reduce (possibly segmented) aggregate state to one row per group.
        A group may transiently hold support == 0 with NONZERO measures
        (delete-before-insert of one row while another row of the group nets
        negative: Σw = 0 but Σw·v ≠ 0) — dropping it would lose the measure,
        so state retires a group only when support AND every measure are zero
        (exact for int/decimal measures, the package convention)."""
        gb = list(self.spec.group_by)
        out = df.groupBy(*gb).agg(
            *[F.sum(n).alias(n) for n in self.spec.measures],
            F.sum("support").alias("support"),
        )
        keep = F.col("support") != 0
        for name in self.spec.measures:
            keep = keep | F.coalesce(F.col(name) != 0, F.lit(False))
        return out.filter(keep)

    def _term_project(self, t: DataFrame) -> DataFrame:
        """Uniform contribution row for one delta-join term: group key columns,
        each measure pre-multiplied by the term weight, each hist value, and
        the weight itself. Evaluating measures per term (then summing) equals
        evaluating on the unioned join by linearity, and gives every term the
        same schema regardless of which virtual tree produced it."""
        cols: list[Column] = [F.col(c) for c in self.spec.group_by]
        cols += [
            (F.col("_w") * expr()).alias(name)
            for name, expr in self.spec.measures.items()
        ]
        cols += [
            expr().alias(f"_hv_{name}")
            for name, (_, expr) in self.spec.hist_measures.items()
        ]
        cols.append(F.col("_w"))
        return t.select(*cols)

    # --- delta-join decomposition ------------------------------------------
    def _tree(self, columns: Mapping[str, list[str]]) -> dict[str, tuple]:
        """The spec's join tree as {child: (parent, pairs)}, resolved once per
        batch from each relation's term columns. A relation's parent is the
        one other relation holding every ``earlier`` column of its edge, and
        it must come earlier in the spec. Raises ``ValueError`` when an edge
        column is held by no relation or by two, when its holder comes later
        in the spec, or when the holder is an anti gate (the virtual trees
        that drop the gate would strand its child). So every virtual tree
        and every leaf-peel suffix is a connected subtree."""
        rels = self.spec.relations
        pos = {r.name: i for i, r in enumerate(rels)}
        tree: dict[str, tuple] = {}
        for r in rels[1:]:
            pairs = r.join_pairs()
            holders = {
                e: [q.name for q in rels if q is not r and e in columns[q.name]]
                for _, e in pairs
            }
            parents = {n for ns in holders.values() for n in ns}
            if len(parents) != 1 or any(len(ns) != 1 for ns in holders.values()):
                raise ValueError(
                    f"relation {r.name!r}: its join columns must be held by exactly "
                    f"one other relation, its parent; holders: {holders}"
                )
            (parent,) = parents
            if pos[parent] > pos[r.name]:
                raise ValueError(
                    f"relation {r.name!r}: its parent {parent!r} comes later in the spec"
                )
            if rels[pos[parent]].anti:
                raise ValueError(f"anti gate {parent!r} cannot have a child ({r.name!r})")
            tree[r.name] = (parent, pairs)
        return tree

    @staticmethod
    def _adjacency(rels: tuple[RelSpec, ...], tree: Mapping[str, tuple]) -> dict:
        """The join tree restricted to ``rels`` as an undirected adjacency
        {name: [(other, pairs, other_is_child)]}, edges appended in ``rels``
        order (which fixes every BFS and leaf-peel order built on it)."""
        adj: dict[str, list] = {r.name: [] for r in rels}
        for r in rels:
            if r.name in tree and tree[r.name][0] in adj:
                parent, pairs = tree[r.name]
                adj[parent].append((r.name, pairs, True))
                adj[r.name].append((parent, pairs, False))
        return adj

    def _delta_first_order(
        self, rels: tuple[RelSpec, ...], start: str, tree: Mapping[str, tuple]
    ) -> list:
        """BFS join steps outward from the delta relation over the tree
        restricted to ``rels``: [(rel_to_add, pairs, via_name, add_side_cols)].
        Every intermediate join result is then bounded by the delta's
        fan-out — the naive sequential order instead joins full upstream
        states together BEFORE the delta restricts them, which is the
        per-batch scale killer."""
        adj = self._adjacency(rels, tree)
        byname = {r.name: r for r in rels}
        seen, steps, queue = {start}, [], [start]
        while queue:
            u = queue.pop(0)
            for v, pairs, v_is_child in adj[u]:
                if v in seen:
                    continue
                seen.add(v)
                add_cols = (
                    tuple(o for o, _ in pairs)
                    if v_is_child
                    else tuple(e for _, e in pairs)
                )
                steps.append((byname[v], pairs, u, add_cols))
                queue.append(v)
        return steps

    # a probe with more distinct keys than this does not prune (the scan is
    # the unpruned superset); keeps the per-term driver read bounded
    KEY_PUSHDOWN_CAP = 1024
    # bucketed states at or below this many rows skip probe pruning: the
    # full bucket scan is cheaper than the probe's two driver round-trips
    PRUNE_MIN_STATE_ROWS = 1 << 16

    def _prune_worthwhile(self, rel: str) -> bool:
        """Cost-based gate for probe pruning (optimization r11; guide §1.2
        "don't compute things you throw away"): ``_probe_pruning`` spends two
        bounded driver round-trips (a probe count and a distinct-limit
        collect) to shrink the state scan — pure overhead when the state is
        EMPTY (first batch: every prune collect learns nothing) or small
        enough that the full bucket scan is cheaper than the round-trips
        (dimension-sized relations: nation at any scale). The gate uses the
        observe()-tracked post-commit row count (``_state_rows``, an upper
        bound under log-structured appends), which every relation with live
        segments has. Skipping is exact: pruning is a superset restriction
        and the unpruned scan is the trivial superset. The threshold is
        ``PRUNE_MIN_STATE_ROWS``."""
        if not self._segments.get(rel):
            return False  # no committed state: nothing a probe could prune
        return self._state_rows[rel] > self.PRUNE_MIN_STATE_ROWS

    def _probe_pruning(
        self,
        probe_df: DataFrame,
        r: RelSpec,
        probe_cols: tuple[str, ...],
        memo: dict | None = None,
        memo_key=None,
        rows_key=None,
    ):
        """(bucket ids, per-column probe key values) the probe side can
        possibly reach in relation ``r`` — one bounded driver read of ≤
        KEY_PUSHDOWN_CAP key rows — or ``None`` for a probe wider than the
        cap, which scans unpruned: over 1024 distinct keys realistically
        probe every bucket anyway. An empty probe prunes to no bucket.
        Bucket ids prune the scan to the probed partition directories; key
        values additionally push as per-bucket_key-column ``In`` filters
        (for multi-column keys the per-column value sets are a conservative
        cross-product superset of the probed tuples — non-matching keys
        can't join, so restriction stays exact) that parquet page/rowgroup
        statistics of the key-sorted bucket files prune on — rows read
        track the probe set, not state/buckets. The probe side is the DELTA
        itself for one-hop relations (memoized per batch — the same delta
        probes across every virtual tree), or the accumulated delta-bounded
        join for ≥2-hop relations (one capped, early-terminating collect per
        term: pruning is TRANSITIVE down the tree)."""
        if memo is not None and memo_key in memo:
            return memo[memo_key]
        # canonicalize probe keys to the STATE side's declared types before
        # hashing/collecting: the string form the bucket hash stabilizes on is
        # only width-stable within a numeric family (int 5 -> "5" but
        # DECIMAL(12,4) 5 -> "5.0000"), so an edge whose two sides pin
        # different families would otherwise bucket equal values apart and
        # silently drop matching state rows. The cast also lands the pushed
        # In-filter values in the state column's exact type.
        types = {f.name: f.dataType for f in self._schemas[r.name].fields}
        canon = [
            F.col(c).cast(types[k]).alias(f"_k{i}")
            for i, (c, k) in enumerate(zip(probe_cols, r.bucket_key))
        ]
        sel = canon + [_bucket_expr(canon, r.buckets).alias("_b")]
        # wide-probe fast path (round 9, from the fold profile): the key-
        # distinct below is a FULL SHUFFLE of the probe side, and a probe
        # far above the cap would pay it just to learn it was too wide — at
        # sf1 a pass over a 2.5M-row delta per (delta, state) pair per
        # batch. A raw row count is one scan-only job (no shuffle); above
        # 64× the cap the distinct key set realistically exceeds the cap
        # too, so skip pruning outright. Between cap and 64× cap the keys
        # may still dedupe under the cap (heavily duplicated FK deltas), so
        # the exact attempt is kept there.
        # Round 10: the count is memoized per PROBE SOURCE (``rows_key``,
        # the delta relation for one-hop probes) — one scan-only job per
        # relation per batch, not one per (delta, state) pair, and none at
        # all where the batch's ingest job already counted the delta (the
        # caller seeds the memo from it).
        if memo is not None and rows_key is not None:
            if rows_key not in memo:
                memo[rows_key] = probe_df.count()
            n_probe_rows = memo[rows_key]
        else:
            n_probe_rows = probe_df.count()
        out = None
        if n_probe_rows <= self.KEY_PUSHDOWN_CAP * 64:
            rows = (
                probe_df.select(*sel).distinct().limit(self.KEY_PUSHDOWN_CAP + 1).collect()
            )
            if len(rows) <= self.KEY_PUSHDOWN_CAP:
                ids = sorted({row["_b"] for row in rows})
                # NULL probe keys never equi-join, so dropping them from the
                # In sets keeps the superset property (isin never matches NULL)
                vals = tuple(
                    [v for v in {row[i] for row in rows} if v is not None]
                    for i in range(len(probe_cols))
                )
                out = (ids, vals)
        if memo is not None:
            memo[memo_key] = out
        return out

    def _join_state(
        self,
        acc: DataFrame,
        r: RelSpec,
        side: DataFrame,
        pairs: tuple,
        r_cols: tuple[str, ...],
        w_col: str,
        memo: dict | None = None,
        hop: tuple[str, DataFrame] | None = None,
    ) -> DataFrame:
        """One state-side join step of a ΔJ term, shared by the per-term
        (``_join_chain``) and telescoped (``_factored_chain``) ΔJ paths:
        join the probing frame ``acc`` to relation ``r``'s frame ``side``
        on the tree edge ``pairs``, ``r_cols`` being r's side of it.

        When ``r`` is bucketed on exactly ``r_cols`` and pruning is
        worthwhile, the side is first restricted to the bucket ids (and
        probe-key ``In`` sets) the probe can reach. ``hop = (name, delta)``
        says the probe is that relation's raw delta, one tree hop away: its
        pruning set and row count are memoized per batch in ``memo``, since
        the same delta probes across every virtual tree. Otherwise pruning is
        TRANSITIVE: the probe collect is an eager action over ``acc``'s
        lineage and the join re-executes it, so ``acc`` is localCheckpointed
        once for both. The side's weight is renamed to ``w_col``.

        A batch that folds in one task (``last_one_task``) joins both sides
        as single partitions: each is coalesced to one, and a shuffled-hash
        hint builds the hash on ``acc``, the delta-bounded side. Two
        ``SinglePartition`` children need no Exchange, so the whole ΔJ and
        its group-by plan as one task. Otherwise broadcast follows the
        relation spec (``RelSpec.broadcast_state``) and the planner's own
        size estimates."""
        pruning = None
        if (
            r.buckets > 0
            and BUCKET in side.columns
            and tuple(r.bucket_key) == r_cols
            and self._prune_worthwhile(r.name)
        ):
            owns = tuple(o for o, _ in pairs)
            probe = tuple(e for _, e in pairs) if r_cols == owns else owns
            if hop is not None:
                # memo key includes the probing (delta) relation: two delta
                # relations probing the same bucketed state with identically
                # named probe columns must not reuse each other's sets
                name, delta = hop
                pruning = self._probe_pruning(
                    delta,
                    r,
                    probe,
                    memo,
                    (name, r.name, probe),
                    rows_key=("rowcount", name),
                )
            else:
                acc = acc.localCheckpoint()
                with self._profile_lock:
                    self.last_checkpoints += 1
                pruning = self._probe_pruning(acc, r, probe)
        side = side.withColumnRenamed(WEIGHT, w_col)
        if pruning is not None:
            bucket_ids, key_vals = pruning
            side = side.filter(F.col(BUCKET).isin(bucket_ids))
            # superset restriction (non-matching keys can't join): pushes to
            # the parquet scan as one In filter per bucket_key column, pruned
            # by page/rowgroup stats of the key-sorted bucket files
            for c, vs in zip(r.bucket_key, key_vals):
                side = side.filter(F.col(c).isin(vs))
        side = side.drop(BUCKET)
        cond = reduce(
            Column.__and__,
            [F.col(own) == F.col(earlier) for own, earlier in pairs],
        )
        if self.last_one_task:
            return acc.coalesce(1).hint("shuffle_hash").join(side.coalesce(1), cond)
        if r.broadcast_state:
            side = F.broadcast(side)
        return acc.join(side, cond)

    def _join_chain(
        self,
        versions: Mapping[str, DataFrame],
        rels: tuple[RelSpec, ...],
        delta_name: str,
        tree: Mapping[str, tuple],
        bucket_memo: dict | None = None,
        apply_residual: bool = True,
    ) -> DataFrame:
        """k-way join over one version assignment; output weight ``_w`` is the
        product of per-relation weights (joins multiply multiplicities).
        ``rels`` is the connected subtree of ``tree`` joined — the full spec,
        a virtual tree under anti-gate inclusion–exclusion, or a factored
        suffix.

        The version ASSIGNMENT (new/Δ/old) fixes the term's semantics; the
        join EXECUTION order is free, and ``delta_name`` selects the
        delta-first BFS order plus bucket pruning (see ``_join_state``): a
        bucketed relation probed directly from the delta reads only the
        delta's bucket partitions; deeper bucketed relations are pruned
        TRANSITIVELY from the accumulated (delta-bounded) join."""
        acc = versions[delta_name].withColumnRenamed(WEIGHT, f"_w_{delta_name}").drop(BUCKET)
        for r, pairs, via, add_cols in self._delta_first_order(rels, delta_name, tree):
            hop = (via, versions[via]) if via == delta_name else None
            acc = self._join_state(
                acc, r, versions[r.name], pairs, add_cols, f"_w_{r.name}",
                bucket_memo, hop,
            )
        if self.spec.residual is not None and apply_residual:
            # non-tree cycle edges: σ distributes over the decomposition terms
            # (apply_residual=False for the factored path's SUFFIX joins,
            # where the residual's columns may not all exist yet — the
            # factored ΔJ applies it once over the full join instead)
            acc = acc.filter(self.spec.residual())
        w = reduce(Column.__mul__, [F.col(f"_w_{r.name}") for r in rels])
        return acc.withColumn("_w", w)

    @staticmethod
    def _leaf_peel(vlist: tuple[RelSpec, ...], adj: dict) -> tuple:
        """Leaf-peeling enumeration of a resolved tree (``_factored_chain``):
        ``(path, edges)`` where ``path[i]`` is e_i and ``edges[i]`` is
        ``(pairs, e_i's join columns)`` of the tree edge from e_i to its
        unique neighbor still in the suffix, recorded at peel time, when that
        neighbor is e_i's only remaining edge. Deterministic: spec-earliest
        leaf first, preferring the leaf adjacent to the last-peeled node.
        ``adj`` must be one tree (``_tree`` guarantees it)."""
        posv = {r.name: i for i, r in enumerate(vlist)}
        byname = {r.name: r for r in vlist}
        remaining = {n: {o for o, _, _ in adj[n]} for n in adj}
        orig_nbrs = {n: {o for o, _, _ in adj[n]} for n in adj}
        order: list[str] = []
        edges: dict[int, tuple] = {}
        while len(remaining) > 1:
            leaves = sorted(
                (n for n in remaining if len(remaining[n]) == 1),
                key=lambda n: posv[n],
            )
            near = [n for n in leaves if order and order[-1] in orig_nbrs[n]]
            pick = (near or leaves)[0]
            nb = next(iter(remaining[pick]))
            _, pairs, nb_is_child = next(e for e in adj[pick] if e[0] == nb)
            # the spec-CHILD owns the pairs' (own, earlier) columns; peel
            # direction is free of spec direction
            side = 1 if nb_is_child else 0
            edges[len(order)] = (pairs, tuple(p[side] for p in pairs))
            order.append(pick)
            del remaining[pick]
            remaining[nb].discard(pick)
        order.append(next(iter(remaining)))
        return tuple(byname[n] for n in order), edges

    def _factored_chain(
        self,
        vlist: tuple[RelSpec, ...],
        tree: Mapping[str, tuple],
        term_new: Mapping[str, DataFrame],
        term_old: Mapping[str, DataFrame],
        term_delta: Mapping[str, DataFrame],
        bucket_memo: dict | None,
    ) -> DataFrame:
        """Telescoped ΔJ over ANY tree-shaped virtual tree (round 10 for
        chains, round 11 for arbitrary trees): the per-term decomposition
        Σ_i new_{<i} ⋈ Δ_i ⋈ old_{>i} re-joins the shared upward prefix of
        NEW relations once PER TERM — at sf1 the Δlineitem and Δorders terms
        each join customer-and-above separately, and term_build carries ~45%
        of the fold budget (IVM_FOLD_PROFILE.json). Joins distribute over
        unions, so the sum telescopes suffix-first instead:

            B_k = Δ_k
            B_i = (Δ_i ⋈ old_{i+1} ⋈ … ⋈ old_k)  ∪  (new_i ⋈ B_{i+1})
            ΔJ  = B_0   (= Σ of all per-relation terms, exactly)

        Every B_i is delta-bounded, each downward Δ_i⋈old-suffix reuses the
        existing delta-first order + bucket pruning, and each NEW relation is
        joined exactly ONCE per batch (probed by the union B_{i+1}, whose
        key set is the union of the replaced terms' probe sets — pruning
        stays a superset, so restriction stays exact).

        The telescoping identity ΔJ = J(new) − J(old) holds for ANY
        enumeration order of the relations (each order nets to the same
        signed multiset, and every consumer — the aggregate fold, the hist
        deltas, the touched-group set — is net-based); what the RECURRENCE
        needs of the enumeration is only that every SUFFIX {e_i..e_k}
        induces a connected subtree: then each Δ-branch is a connected
        delta-first join driven from Δ_i, and e_i has exactly ONE tree
        neighbor inside the suffix (two would close a cycle) for the
        new_i ⋈ B_{i+1} branch's join condition. Round 10 realized this
        only for Hamiltonian-path enumerations (path graphs); round 11
        observes that a LEAF-PEELING order (``_leaf_peel``) — repeatedly
        remove a leaf of the remaining tree — provides suffix connectivity
        for EVERY tree (removing a leaf keeps the remainder connected, and
        the reversed removal order's suffixes are exactly those remainders),
        so genuine degree-≥3 stars (the registered
        ``incremental_star_stream``'s lineitem–{orders,part,supplier}, Q2's
        5-relation tree) factor too. On path-shaped trees the peel
        reproduces the round-10 endpoint walk exactly. Weights multiply into
        a single running ``_w``; the residual filter is applied once over
        the full join (σ commutes with ∪ and ⋈). ``_term_build`` takes this
        path for every virtual tree with ≥2 deltas."""
        columns = {r.name: term_new[r.name].columns for r in vlist}
        path, edges = self._leaf_peel(vlist, self._adjacency(vlist, tree))

        def build_branch_a(i: int) -> DataFrame:
            ri = path[i]
            suffix = path[i:]
            if len(suffix) == 1:
                return term_delta[ri.name].drop(BUCKET).withColumnRenamed(WEIGHT, "_w")
            # a leaf-peel suffix is a connected subtree: the tree restricted
            # to it orders the Δ_i ⋈ old-suffix join delta-first
            versions = {ri.name: term_delta[ri.name]}
            for rj in suffix[1:]:
                versions[rj.name] = term_old[rj.name]
            t = self._join_chain(
                versions, suffix, ri.name, tree, bucket_memo, apply_residual=False
            )
            keep = [
                c for rj in suffix for c in columns[rj.name] if c not in (WEIGHT, BUCKET)
            ]
            return t.select(*keep, "_w")

        # the Δ branches are mutually independent (each joins its own delta
        # against OLD-state suffixes; memo keys are per delta relation), so
        # their eager probe collects / partial-join materializations run
        # concurrently from the commit pool — the sequential B spine below
        # consumes them ready-made
        delta_is = [i for i in range(len(path)) if path[i].name in term_delta]
        built = _run_parallel([lambda i=i: build_branch_a(i) for i in delta_is])
        branch_as: dict[int, DataFrame] = dict(zip(delta_is, built))

        B: DataFrame | None = None
        # while B is still the RAW bottom delta (already lazily checkpointed
        # at ingest), its probe is the same one-hop probe the per-term path
        # memoizes: ``hop`` hands that delta to the join step
        hop = None
        for i in range(len(path) - 1, -1, -1):
            ri = path[i]
            branch_a = branch_as.get(i)
            branch_b = None
            if B is not None:
                pairs, ri_cols = edges[i]
                branch_b = self._join_state(
                    B, ri, term_new[ri.name], pairs, ri_cols, "_w_r",
                    bucket_memo, hop,
                ).withColumn("_w", F.col("_w") * F.col("_w_r")).drop("_w_r")
            if branch_a is not None and branch_b is not None:
                B = branch_a.unionByName(branch_b)
            else:
                B = branch_a if branch_a is not None else branch_b
            last = i == len(path) - 1
            hop = (ri.name, B) if last and branch_a is not None else None
        if self.spec.residual is not None:
            B = B.filter(self.spec.residual())
        return B

    def _snapshot(self) -> dict:
        """Deep copy of every in-memory field the manifest persists, the
        top-k's ``state()`` included — taken at batch start, when memory and
        the committed manifest agree."""
        return {
            "version": dict(self._version),
            "segments": {k: list(v) for k, v in self._segments.items()},
            "schemas": dict(self._schemas),
            "seg_ts": {k: dict(v) for k, v in self._seg_ts.items()},
            "watermarks": dict(self._watermarks),
            "emitted": self._emitted,
            "last_batch": self._last_batch,
            "state_rows": dict(self._state_rows),
            "topk": None if self._topk is None else self._topk.state(),
        }

    def _restore(self, snap: dict) -> None:
        self._version = snap["version"]
        self._segments = snap["segments"]
        self._schemas = snap["schemas"]
        self._seg_ts = snap["seg_ts"]
        self._watermarks = snap["watermarks"]
        self._emitted = snap["emitted"]
        self._last_batch = snap["last_batch"]
        self._state_rows = snap["state_rows"]
        if self._topk is not None:
            self._topk.load(snap["topk"])

    @contextmanager
    def _phase(self, name: str):
        """Scope one batch phase (``instrument=True``): jobs triggered inside
        the block are tagged with a unique job group, and on exit the status
        tracker's job/stage counts plus wall time accumulate into
        ``last_profile[name]``. No-op (zero overhead) when not instrumenting.
        """
        if not self.instrument:
            yield
            return
        sc = self.spark.sparkContext
        with self._profile_lock:
            self._phase_seq += 1
            seq = self._phase_seq
        # unique per phase instance AND per engine (_phase_tag)
        gid = f"ivm_{self._phase_tag}_{name}_{seq}"
        # save/RESTORE the thread's prior job group + description: inside a
        # foreachBatch thread Structured Streaming owns these properties, and
        # clearing them outright would strip the stream's attribution from
        # every unphased job after the first phase exits
        prev_gid = sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = sc.getLocalProperty("spark.job.description")
        # setJobGroup also overwrites interruptOnCancel (to "false" here);
        # inside a foreachBatch thread the stream may have set it, and not
        # restoring it would silently change the stream's job-cancellation
        # interrupt behavior for every subsequent job
        prev_int = sc.getLocalProperty("spark.job.interruptOnCancel")
        sc.setJobGroup(gid, f"ivm fold phase: {name}")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            sec = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", prev_gid)
            sc.setLocalProperty("spark.job.description", prev_desc)
            sc.setLocalProperty("spark.job.interruptOnCancel", prev_int)
            tracker = sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(gid)
            stages = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages += len(info.stageIds)
            with self._profile_lock:
                p = self.last_profile.setdefault(
                    name, {"jobs": 0, "stages": 0, "sec": 0.0}
                )
                p["jobs"] += len(jobs)
                p["stages"] += stages
                p["sec"] += sec

    def _parallel(self, tasks: list[tuple[str, Callable[[], object]]]) -> list:
        """Run independent per-batch actions concurrently (guide §2.6) and
        return their results in task order: each task is a (phase name,
        thunk) whose Spark jobs are submitted from its own driver thread, so
        one write's scheduling/commit latency overlaps another's instead of
        serializing. Thunks must be mutually independent: they may only read
        pre-batch state files (two-phase commit keeps those on disk until
        post-manifest cleanup) and write their own versioned paths.
        ``_phase`` re-scopes per thread. Errors propagate after all tasks
        settle — the caller's snapshot/restore retry discipline is unchanged
        (versioned paths make a failed batch's partial writes plain
        overwrites on retry)."""

        def scoped(name: str, fn: Callable[[], object]) -> Callable[[], object]:
            def run() -> object:
                with self._phase(name):
                    return fn()

            return run

        return _run_parallel([scoped(name, fn) for name, fn in tasks])

    def _netted(self, rel: str) -> bool:
        """Is ``rel``'s live state already its net multiset — none, or one
        version? A state's first version is always a net (appends only
        follow one), so anything else — a net plus appended versions, also
        those a log-structured → merge resume leaves behind — must be netted
        by whoever reads it per group."""
        return len(self._segments.get(rel, [])) <= 1

    def _skippable(self, rel: str) -> bool:
        """May an EMPTY delta of ``rel`` leave its state as it is? Only when
        the relation has committed state that needs no rewrite: any live
        state under ``compact_every > 1``, and under ``compact_every=1``
        netted state — appended versions left by a log-structured → merge
        resume must still be netted by this batch's write, since merge mode
        keeps state netted."""
        if not self._segments.get(rel):
            return False
        return self.compact_every > 1 or self._netted(rel)

    def _ingest_counts(self, filt: Mapping[str, DataFrame]) -> dict[str, int]:
        """Row count of every delta from ONE job: the lazily-checkpointed
        deltas, each projected to a relation tag, union into a noop write
        whose ``observe()`` counts rows per tag. The write materializes every
        checkpoint on the way, so later consumers read the blocks."""
        from pyspark.sql import Observation

        names = list(filt)
        tagged = reduce(
            lambda a, b: a.unionByName(b),
            [filt[n].select(F.lit(i).alias("_rel")) for i, n in enumerate(names)],
        )
        obs = Observation()
        counts = [F.count_if(F.col("_rel") == i).alias(f"n{i}") for i in range(len(names))]
        with self._phase("ingest"):
            tagged.observe(obs, *counts).write.format("noop").mode("overwrite").save()
        got = obs.get
        return {n: int(got[f"n{i}"]) for i, n in enumerate(names)}

    @staticmethod
    def _counted_checkpoint(df: DataFrame) -> tuple[DataFrame, int]:
        """Eager localCheckpoint plus its row count, observed on the same
        job (no extra count action)."""
        from pyspark.sql import Observation

        obs = Observation()
        out = df.observe(obs, F.count(F.lit(1)).alias("rows")).localCheckpoint()
        return out, int(obs.get["rows"])

    def _fits_broadcast(self, sized: list[tuple[StructType, int]]) -> bool:
        """The planner's own broadcast rule — rows × (8 + the schema's
        default row size), summed over the (schema, rows) pairs of
        ``sized``, within ``spark.sql.autoBroadcastJoinThreshold`` — applied
        to row counts the planner cannot see."""
        jvm = self.spark._jvm
        limit = self.spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
        size = sum(
            n * (8 + jvm.org.apache.spark.sql.types.DataType.fromJson(s.json()).defaultSize())
            for s, n in sized
        )
        return 0 <= size <= limit

    def _fits_one_task(self, filt: Mapping[str, DataFrame], memo: dict) -> bool:
        """May this batch fold its delta join in ONE task? The planner's
        broadcast rule (``_fits_broadcast``) applied to the batch's whole
        input: every committed state — each spec relation must have one, so
        a bootstrap never qualifies — plus every delta, each bounded by its
        ingest count. A delta without a count in ``memo`` (a semi/anti
        presence delta, a ttl delta, an uncounted batch) fails the rule.

        The session must also have lifted ``spark.sql.maxSinglePartitionBytes``
        (``session.get_spark`` does): with no statistics on a join's output
        the planner estimates it as the product of its inputs' sizes, so
        already the second join of a chain of KB-sized inputs passes the
        default 128 MB cap, and EnsureRequirements re-shuffles both of its
        single-partition sides. The engine never changes the caller's
        session; under the cap it keeps the broadcast plan."""
        sql_conf = self.spark._jvm.org.apache.spark.sql.internal.SQLConf
        conf = self.spark._jsparkSession.sessionState().conf()
        if conf.getConf(sql_conf.MAX_SINGLE_PARTITION_BYTES()) < 2**63 - 1:
            return False
        if any(r.name not in self._state_rows for r in self.spec.relations):
            return False
        if any(("rowcount", n) not in memo for n in filt):
            return False
        sized = [(self._schemas[s], n) for s, n in self._state_rows.items()]
        sized += [(self._schemas[n], memo[("rowcount", n)]) for n in filt]
        return self._fits_broadcast(sized)

    def _broadcast_if_small(self, df: DataFrame, n_rows: int) -> DataFrame:
        """Broadcast hint for a checkpointed frame of known row count, unless
        the batch folds in one task: the emit stage then joins the frame as
        one partition (``_view``), where a broadcast would cost its own
        job. The planner sees no statistics on a checkpoint (its size
        estimate is ``defaultSizeInBytes``), so a join against it plans a
        sort-merge join that AQE converts to a broadcast only after
        shuffling both sides."""
        if self.last_one_task or not self._fits_broadcast([(df.schema, n_rows)]):
            return df
        return F.broadcast(df)

    def _read_emitted(self) -> DataFrame:
        """The persisted changelog of batch ``_emitted["batch"]``, read with
        its recorded schema: parquet schema inference would cost a job."""
        schema = StructType.fromJson(json.loads(self._emitted["schema"]))
        return self.spark.read.schema(schema).parquet(self._emitted["path"])

    def process_batch(
        self,
        deltas: Mapping[str, DataFrame],
        batch_id: int | None = None,
        emit_delta: bool = False,
    ) -> DataFrame | None:
        """Apply one micro-batch of weighted deltas.

        With ``emit_delta=True``, additionally returns the CHANGELOG OF THE
        EMITTED VIEW for this batch: for every group the batch touched, the
        pre-batch emitted row with weight −1 and the post-batch row with
        weight +1 (rows appearing/vanishing via HAVING, padding, or support
        draining included). That changelog is a valid weighted delta for
        ANOTHER engine's relation — the composition hook that stacks
        maintained views (a continuously-maintained aggregate feeding a
        downstream continuous query, e.g. Q17's correlated per-part average).
        Cost: the delta-join output is localCheckpoint'ed once and the view
        is evaluated restricted to touched groups — O(touched), not O(view).

        The manifest is the single atomicity point for IN-PROCESS retry as
        well as crash-restart: every manifest-persisted field (watermarks,
        segment maps, versions, last_batch, emitted pointer, the top-k's
        state) is rolled back
        to its batch-start snapshot if the batch fails at ANY point, so a
        retry on the same engine instance re-runs against exactly the
        committed state — a failed attempt's watermark advance cannot skip
        the retry's eviction band, and its appended-but-uncommitted segments
        cannot double-count (versioned paths make the retry's writes plain
        overwrites of the orphans).
        """
        # per-batch observability counters, reset for EVERY call: a replayed
        # batch must not report the previous batch's figures as its own
        self.last_profile = {}
        self.last_evicted = {}
        self.last_factored = 0
        self.last_checkpoints = 0
        self.last_one_task = False
        # idempotent replay skip: after checkpoint recovery, foreachBatch
        # redelivers the last uncommitted batch — if our manifest already
        # committed it, applying it again would double-count. A replayed
        # emit_delta batch returns the PERSISTED changelog of that batch
        # (written inside the batch's atomic commit), so downstream engines
        # and sinks can catch up — exactly-once extends across chains. The
        # top-k committed in the same manifest, so it needs no catch-up.
        if (
            batch_id is not None
            and self._last_batch is not None
            and batch_id <= self._last_batch
        ):
            if emit_delta and self._emitted is not None and self._emitted["batch"] == batch_id:
                return self._read_emitted()
            return None
        snap = self._snapshot()
        try:
            changelog, cleanup = self._process_batch_inner(
                deltas, batch_id, emit_delta or self._topk is not None
            )
        except BaseException:
            self._restore(snap)
            raise
        # post-commit, outside the rollback scope: the manifest no longer
        # references these, and a failure here must not rewind memory
        # behind it
        for p in cleanup:
            shutil.rmtree(p, ignore_errors=True)
        if self._topk is not None:
            self._topk._gc()
        return changelog if emit_delta else None

    def _process_batch_inner(
        self,
        deltas: Mapping[str, DataFrame],
        batch_id: int | None,
        emit_delta: bool,
    ) -> tuple[DataFrame | None, list[str]]:
        """One batch as a pipeline of stages, each named after the profile
        phase it records: ingest → ttl → gate presence → term_build →
        join_fold → commit wave → emit → topk. Stages pass plain values; the
        manifest write at the end is the batch's atomic commit point for the
        engine and its top-k alike. Returns the changelog and the superseded
        paths, which the caller deletes only after that commit.

        After the ttl stage the batch decides its plan (``_fits_one_task``):
        a batch whose committed states and counted deltas fit the
        planner's broadcast rule folds its delta join, group-by and emit
        restrictions as single-partition plans, with no Exchange and no
        broadcast; any other batch keeps the broadcast/shuffle plan.

        The PRE-batch view of the touched groups is a lazy plan built before
        the wave, on the main thread: ``_view`` resolves segment paths at
        plan-build time and the wave's commits swap ``_segments`` to the new
        versions. It executes inside the emit stage's one action, still
        reading the pre-batch files, which two-phase commit keeps on disk
        until the post-manifest cleanup."""
        filt, delta_rows, bucket_memo = self._ingest(deltas)
        seg_range = self._ttl(filt, delta_rows)
        self.last_one_task = self._fits_one_task(filt, bucket_memo)
        term_new, term_old, term_delta = self._gate_presence(filt)
        terms = self._term_build(term_new, term_old, term_delta, bucket_memo)
        if not terms:
            # empty batch: no state changes, but still record batch_id so
            # last_batch stays aligned with the stream's committed offsets
            if batch_id is not None:
                self._last_batch = batch_id
                self._commit_manifest()
            return None, []
        agg_delta, n_agg, hist_deltas, touched = self._join_fold(
            terms, filt, emit_delta
        )
        if n_agg is not None:
            delta_rows["agg"] = n_agg
        pre_plan = self._view(touched, touched_unique=True) if emit_delta else None
        cleanup: list[str] = []
        self._commit_wave(filt, seg_range, agg_delta, hist_deltas, delta_rows, cleanup)
        changelog = None
        if emit_delta:
            changelog = self._emit_changelog(touched, pre_plan, batch_id, cleanup)
        if self._topk is not None:
            with self._phase("topk"):
                self._topk.apply(changelog)
        if batch_id is not None:
            self._last_batch = batch_id
        self._commit_manifest()  # atomic commit point; cleanup is post-commit
        return changelog, cleanup

    def _ingest(
        self, deltas: Mapping[str, DataFrame]
    ) -> tuple[dict[str, DataFrame], dict[str, int], dict]:
        """Ingest stage: each delta filtered, projected, conformed to its
        relation's state schema and lazily checkpointed; empty deltas whose
        state needs no rewrite leave the batch. Returns the batch's deltas,
        the row count of each when the ingest job counted them (the state
        writes' row bounds; empty when no count was taken), and the probe
        memo, seeded with the same counts."""
        rels = self.spec.relations
        unknown = set(deltas) - set(self._by_name)
        if unknown:
            raise KeyError(
                f"deltas for unknown relations {sorted(unknown)}; "
                f"spec has {sorted(self._by_name)}"
            )
        filt: dict[str, DataFrame] = {}
        for r in rels:
            if r.name not in deltas:
                continue
            d = deltas[r.name]
            if r.delta_filter is not None:
                d = r.delta_filter(d)
            if r.project is not None:
                d = d.select(*r.project, WEIGHT)
            # lazy localCheckpoint (round 9): one batch consumes each delta
            # many times — probe-pruning counts/distincts, one ΔJ term per
            # delta relation, the presence gates, and the state write's
            # union — and without materialization every consumer re-scans
            # the source (for a streaming micro-batch, the parquet chunk).
            # Lazy, so the ingest count below materializes ALL deltas in one
            # job; without it, each delta's first consumer does.
            filt[r.name] = self._conform(r.name, d).localCheckpoint(eager=False)

        # skip empty deltas (Cquirrel: a relation without an update sends no
        # delta down the tree): ONE ingest job counts every delta, and an
        # empty one whose state needs no rewrite leaves the batch entirely —
        # no ΔJ branch, no watermark read, no state commit. Exact: an empty
        # delta contributes no term and no state change, and never advances
        # a ttl watermark. An all-empty batch keeps the full path, so its
        # top-k feed and emit_delta return are as before.
        counts: dict[str, int] = {}
        if len(filt) >= 2 and any(self._skippable(n) for n in filt):
            counts = self._ingest_counts(filt)
            if any(counts.values()):
                for name, n in counts.items():
                    if n == 0 and self._skippable(name):
                        del filt[name]
        # the ingest counts are the one-hop probes' row counts wherever the
        # term delta IS the ingested delta (not a gate's presence delta, not
        # a ttl delta the watermark filtered and eviction extended)
        memo = {
            ("rowcount", r.name): counts[r.name]
            for r in rels
            if r.name in counts and r.name in filt
            and not (r.semi or r.anti) and r.ttl is None
        }
        return filt, counts, memo

    def _ttl(
        self, filt: dict[str, DataFrame], delta_rows: dict[str, int]
    ) -> dict[str, tuple]:
        """ttl stage (RelSpec.ttl), one pass per ttl relation with a delta:
        advance the watermark, drop late rows, and append the eviction band
        to the delta as retractions. Updates ``filt`` in place — and drops
        the ingest count of a delta the band extends, which then bounds
        nothing — and returns rel -> the driver-side superset ts range of
        this batch's segment.

        The watermark is the running max event time over ingested deltas —
        ONE bounded 1-row driver read per relation, which also constant-folds
        BOTH horizon values (old and new) in the same job, so the band below
        needs no extra round-trip. Rows below the new horizon are dropped
        NOW: the band only ever sweeps forward, so a late row that slipped
        into state would never be revisited. State rows crossing the horizon
        re-enter the batch as retraction deltas — join terms, presence gates,
        value histograms, HAVING and chains all retract them through the
        ordinary algebra. Only the closing band [old horizon, new horizon)
        is read, pruned at TWO levels: the manifest's per-segment ts ranges
        skip whole segments driver-side (the only pruning available to
        key-sorted bucketed state), and the pushed range filter lets parquet
        rowgroup statistics prune within the ts-sorted segments that
        remain."""
        seg_range: dict[str, tuple] = {}
        for r in self.spec.relations:
            if r.ttl is None or r.name not in filt:
                continue
            ts_col, horizon = r.ttl
            if ts_col not in filt[r.name].columns:
                raise ValueError(
                    f"relation {r.name!r}: ttl column {ts_col!r} missing from "
                    f"its delta columns {filt[r.name].columns}"
                )
            old_wm = self._watermarks.get(r.name)
            dtype = self._schemas[r.name][ts_col].dataType

            def lit(v, dtype=dtype) -> Column:
                return F.lit(None if v is None else str(v)).cast(dtype)

            # greatest(NULL, old) = old, so an empty/regressing batch folds
            # the horizon of the UNCHANGED watermark; F.max over a constant
            # keeps the non-delta expressions legal inside the global agg
            eff = (
                F.greatest(F.max(ts_col), lit(old_wm))
                if old_wm is not None
                else F.max(ts_col)
            )
            with self._phase("watermark"):
                row = filt[r.name].agg(
                    F.max(ts_col).alias("_bm"),
                    horizon(eff).alias("_hi"),  # expression OVER the aggregate
                    F.max(
                        horizon(lit(old_wm)) if old_wm is not None else lit(None)
                    ).alias("_lo"),
                ).first()
            batch_max, h_new_v, h_old_v = row["_bm"], row["_hi"], row["_lo"]
            new_wm = (
                old_wm
                if batch_max is None or (old_wm is not None and batch_max <= old_wm)
                else batch_max
            )
            # a segment written without a horizon advance holds rows within
            # the current window: (unbounded, wm] is a safe superset
            seg_range[r.name] = (None, new_wm)
            if new_wm is None:
                continue
            self._watermarks[r.name] = new_wm
            cut = horizon(lit(new_wm))
            filt[r.name] = filt[r.name].filter(
                F.col(ts_col).isNull() | (F.col(ts_col) >= cut)
            )
            if old_wm == new_wm:
                continue  # horizon unchanged: nothing can have crossed it
            band = F.col(ts_col) < cut
            if old_wm is not None:
                band = band & (F.col(ts_col) >= horizon(lit(old_wm)))
            ranges = self._seg_ts.get(r.name, {})
            src_paths = [
                p
                for p in self._segments.get(r.name, [])
                if _range_hits(ranges.get(p), h_old_v, h_new_v)
            ]
            src = self._read_paths(r.name, src_paths)
            evicted = src.filter(band).withColumn(WEIGHT, -F.col(WEIGHT))
            if self.instrument:
                # instrument-only: materialize the band once so the count
                # and the fold share it, and record the eviction-band read
                # size (tools/ivm_trending_sf1.py's host-independent signal)
                evicted = evicted.localCheckpoint()
                self.last_evicted[r.name] = evicted.count()
            filt[r.name] = filt[r.name].unionByName(evicted)
            delta_rows.pop(r.name, None)
            # this batch's write holds fresh rows (>= new horizon, <= wm) and
            # the band's negations (>= old horizon) — a cheap driver-side
            # superset range, no extra jobs
            hi = new_wm if (h_new_v is None or h_new_v <= new_wm) else None
            seg_range[r.name] = (h_old_v, hi)  # h_old_v None = -inf
        return seg_range

    def _gate_presence(self, filt: Mapping[str, DataFrame]) -> tuple[dict, dict, dict]:
        """Gate presence stage: each relation's (new, old, Δ) versions for the
        ΔJ terms. The post-batch view is the UNMERGED union old ∪ Δ under
        every ``compact_every`` — identical to the netted multiset in every
        join (weights multiply) and aggregate (weights sum) by linearity, a
        (+w, −w) pair contributing exactly zero — so the net runs at most
        once per changed relation, inside its state write
        (``_commit_state``). Semi/anti gates swap the relation's multiset
        for its 0/1 PRESENCE view, and its raw delta for the presence DELTA
        (keys whose net count crossed zero this batch, computed over touched
        keys only)."""
        term_new: dict[str, DataFrame] = {}
        term_old: dict[str, DataFrame] = {}
        term_delta: dict[str, DataFrame] = {}
        for r in self.spec.relations:
            old = self._read_state(r.name)
            new = old.unionByName(filt[r.name]) if r.name in filt else old
            if not (r.semi or r.anti):
                term_new[r.name], term_old[r.name] = new, old
                if r.name in filt:
                    term_delta[r.name] = filt[r.name]
                continue
            keys = [own for own, _ in r.join_pairs()]
            old_p = self._presence(old, keys)
            new_p = self._presence(new, keys)
            term_new[r.name], term_old[r.name] = new_p, old_p
            if r.name in filt:
                touched = filt[r.name].select(*keys).distinct()
                old_pk = old_p.join(touched, keys, "left_semi")
                new_pk = new_p.join(touched, keys, "left_semi")
                appeared = new_pk.join(old_pk, keys, "left_anti")
                vanished = old_pk.join(new_pk, keys, "left_anti").withColumn(
                    WEIGHT, F.lit(-1)
                )
                term_delta[r.name] = appeared.unionByName(vanished)
        return term_new, term_old, term_delta

    def _term_build(
        self,
        term_new: Mapping[str, DataFrame],
        term_old: Mapping[str, DataFrame],
        term_delta: Mapping[str, DataFrame],
        bucket_memo: dict,
    ) -> list[DataFrame]:
        """term_build stage: ΔJ as a list of projected terms. The join tree is
        resolved once (``_tree``) and every virtual tree joins a restriction
        of it: a tree with ≥2 deltas folds as one telescoped term
        (``_factored_chain``), any other as one term per relation with a
        delta (also every tree with ``factor_terms=False``, the equivalence
        tests' reference). Anti gates expand by inclusion–exclusion —
        Q = Σ_S (−1)^|S| J(tree ∪ S) over subsets S of the anti relations
        (each participating as presence) — and each J's own decomposition
        applies; every term is projected to a uniform (group key,
        w·measure…, hist value…, _w) row so trees with different column sets
        union cleanly.

        Not pure plan-building: the delta-first order runs probe-pruning
        collects and transitive partial-join localCheckpoints eagerly —
        phase-scoped so the profile shows this cost instead of leaving it in
        the unattributed gap."""
        rels = self.spec.relations
        anti_rels = tuple(r for r in rels if r.anti)
        terms: list[DataFrame] = []
        with self._phase("term_build"):
            tree = self._tree({r.name: term_new[r.name].columns for r in rels})
            for k in range(len(anti_rels) + 1):
                for S in itertools.combinations(anti_rels, k):
                    vlist = tuple(r for r in rels if not r.anti or r in S)
                    n_deltas = sum(1 for r in vlist if r.name in term_delta)
                    if self.factor_terms and n_deltas >= 2:
                        self.last_factored += 1
                        parts = [
                            self._factored_chain(
                                vlist, tree, term_new, term_old, term_delta, bucket_memo
                            )
                        ]
                    else:
                        # per-term decomposition: the terms are independent
                        # (distinct delta relations, distinct memo keys) —
                        # run their eager probe collects concurrently,
                        # keeping the union's term order deterministic
                        parts = _run_parallel(
                            [
                                lambda i=i, vlist=vlist: self._join_chain(
                                    {
                                        rj.name: (
                                            term_new if j < i
                                            else term_delta if j == i
                                            else term_old
                                        )[rj.name]
                                        for j, rj in enumerate(vlist)
                                    },
                                    vlist,
                                    vlist[i].name,
                                    tree,
                                    bucket_memo,
                                )
                                for i, ri in enumerate(vlist)
                                if ri.name in term_delta
                            ]
                        )
                    for t in parts:
                        if k % 2:
                            t = t.withColumn("_w", -F.col("_w"))
                        terms.append(self._term_project(t))
        return terms

    def _join_fold(
        self, terms: list[DataFrame], filt: Mapping[str, DataFrame], emit_delta: bool
    ) -> tuple[DataFrame, int | None, dict[str, DataFrame], DataFrame | None]:
        """join_fold stage: fold ΔJ into the grouped aggregate delta and the
        value-histogram deltas (measures were multiplied by ``_w`` per term
        in ``_term_project``; summing here is the same algebra). With
        ``emit_delta`` the aggregate delta is materialized once — it feeds
        the commit and the touched-group set — and its observed row count is
        returned second. The touched set is returned last (``None`` without
        ``emit_delta`` or group keys).

        In a batch that folds in one task (``last_one_task``) the union of
        terms is coalesced to one partition: the group-by sees
        ``SinglePartition`` and plans no Exchange, so the checkpoint is the
        fold's one job, and the touched set stays one partition instead of
        a broadcast."""
        dj = reduce(lambda a, b: a.unionByName(b), terms)
        if self.last_one_task:
            dj = dj.coalesce(1)
        if self.spec.hist_measures:
            # ≥2 consumers of the raw ΔJ (the aggregate fold below plus one
            # groupBy PER hist measure): without materialization every hist
            # delta re-executes the whole union-of-terms join plan — an
            # extrema query (3 hist measures) paid the delta join 4× per
            # batch. Lazy localCheckpoint runs it once; ΔJ is O(Δ ⋈ state)
            # rows and the blocks are MEMORY_AND_DISK, so this spills rather
            # than re-joins at scale.
            dj = dj.localCheckpoint(eager=False)
        gb = list(self.spec.group_by)
        aggs = [F.sum(name).alias(name) for name in self.spec.measures] + [
            F.sum("_w").alias("support")
        ]
        agg_delta = self._conform("agg", dj.groupBy(*gb).agg(*aggs))
        # build (and schema-pin) the hist deltas BEFORE any emit_delta
        # pre-view: ``result`` reads hist state, and on the first batch that
        # state is empty with no schema yet — conforming here pins it so the
        # pre-view sees an empty typed histogram instead of raising
        hist_deltas = {
            name: self._conform(
                f"hist::{name}",
                dj.groupBy(*gb, F.col(f"_hv_{name}").alias("_v")).agg(
                    F.sum("_w").alias(WEIGHT)
                ),
            )
            for name in self.spec.hist_measures
        }
        if not emit_delta:
            return agg_delta, None, hist_deltas, None
        with self._phase("join_fold"):
            agg_delta, n_agg = self._counted_checkpoint(agg_delta)
        if not gb:
            return agg_delta, n_agg, hist_deltas, None
        # agg_delta is grouped by group_by, so its keys are already distinct:
        # only the preserve union needs a distinct of its own. Preserve-padded
        # rows can flip on a parent-only delta with no join rows, so the
        # preserved relation's delta keys count as touched too.
        touched, n_touched = agg_delta.select(*gb), n_agg
        if self.spec.preserve is not None and self.spec.preserve in filt:
            touched = touched.unionByName(filt[self.spec.preserve].select(*gb))
            if self.last_one_task:
                touched = touched.coalesce(1)
            with self._phase("touched"):
                touched, n_touched = self._counted_checkpoint(touched.distinct())
        touched = self._broadcast_if_small(touched, n_touched)
        return agg_delta, n_agg, hist_deltas, touched

    def _commit_wave(
        self,
        filt: Mapping[str, DataFrame],
        seg_range: Mapping[str, tuple],
        agg_delta: DataFrame,
        hist_deltas: Mapping[str, DataFrame],
        delta_rows: Mapping[str, int],
        cleanup: list[str],
    ) -> None:
        """Commit wave: every relation, aggregate and histogram state write of
        the batch. The tasks are mutually independent — each reads pre-batch
        segments plus its own delta and writes its own versioned path — so
        they run from one bounded thread pool and their job latencies overlap
        (guide §2.6). ``delta_rows`` holds the known delta row counts (ingest
        counts, the aggregate delta's observed count), from which each write
        bounds its rows. Two-phase commit: superseded paths only go to
        ``cleanup``, deleted after the manifest."""
        tasks: list[tuple[str, Callable[[], object]]] = [
            (
                f"state_write:{rel}",
                lambda rel=rel: self._commit_state(
                    rel,
                    filt[rel],
                    cleanup,
                    ts_range=seg_range.get(rel),
                    delta_rows=delta_rows.get(rel),
                ),
            )
            for rel in filt
        ]
        tasks.append(
            (
                "agg_write",
                lambda: self._commit_state(
                    "agg",
                    agg_delta,
                    cleanup,
                    net_fn=self._agg_net,
                    delta_rows=delta_rows.get("agg"),
                ),
            )
        )
        # value-histogram state for non-invertible aggregates: same ΔJ,
        # grouped one level finer — (group key, value) -> net weight
        tasks += [
            (
                f"hist_write:{name}",
                lambda name=name: self._commit_state(
                    f"hist::{name}", hist_deltas[name], cleanup
                ),
            )
            for name in hist_deltas
        ]
        self._parallel(tasks)

    def _emit_changelog(
        self,
        touched: DataFrame | None,
        pre_plan: DataFrame,
        batch_id: int | None,
        cleanup: list[str],
    ) -> DataFrame:
        """Emit stage: the batch's changelog of the emitted view, pre(−1) ∪
        post(+1), un-netted. A touched group whose emitted row did not change
        contributes an identical ± pair that nets to zero in every consumer
        (downstream engines sum weights; the top-k buffer pops and readmits
        the same row). The post-batch view reads the freshly written
        (pre-manifest) state; ``pre_plan`` is the lazy pre-batch view built
        before the commit wave, still reading the pre-batch files. Both
        execute inside this stage's one action. Each side restricts its
        state reads to ``touched`` with an inner join (``_view``): the
        touched set is broadcast, and Spark reuses the broadcast across the
        two sides, or, in a batch that folds in one task, it is one
        partition joined to single-partition state reads, so the action
        plans no Exchange and no broadcast job.

        With a ``batch_id`` the changelog is persisted INSIDE this batch's
        atomic commit, so a crash-replayed batch can still hand the exact
        view delta to downstream engines and sinks (see the replay skip),
        and the return is the written file read back — exactly the replay
        path's frame. r12 measured an in-memory handoff (persist() filled by
        the same write) and REVERTED it: caching materializes the plan
        without AQE's partition coalescing (grouped stack 36→46 s at
        sf0.1)."""
        post = self._view(touched, touched_unique=True)
        changelog = post.withColumn(WEIGHT, F.lit(1)).unionByName(
            pre_plan.withColumn(WEIGHT, F.lit(-1))
        )
        if batch_id is None:
            # no durable emission requested: materialize the changelog so
            # the returned frame does not re-execute it per consumer (nor
            # read the pre-batch files after their cleanup)
            with self._phase("emit_post"):
                return changelog.localCheckpoint()
        epath = os.path.join(self.state_dir, f"emitted_b{batch_id}")
        with self._phase("emitted_write"):
            changelog.write.mode("overwrite").parquet(epath)
        if self._emitted is not None:
            cleanup.append(self._emitted["path"])
        self._emitted = {
            "batch": batch_id,
            "path": epath,
            "schema": changelog.schema.json(),
        }
        return self._read_emitted()

    def _commit_state(
        self,
        rel: str,
        delta: DataFrame,
        cleanup: list[str],
        net_fn=None,
        ts_range: tuple | None = None,
        delta_rows: int | None = None,
    ) -> None:
        """Persist one state's post-batch version ``{rel}_v{n}`` by the one
        commit rule (``__init__``): a state holding 1 to ``compact_every −
        1`` live versions APPENDS ``delta`` as one more version; any other
        state nets the UNMERGED union old ∪ Δ inside the write, with
        ``net_fn`` (default ``_net``; ``_agg_net`` for the aggregate). Under
        ``compact_every=1`` every commit is a net: merge-and-rewrite.
        Superseded paths go to ``cleanup``, deleted only after the whole
        batch's writes executed.

        ``delta_rows`` is the delta's row count when known. It bounds the
        rows an append writes and, with the committed ``_state_rows``, the
        rows a net reads — the old state plus the delta — and
        ``_write_state`` writes a small bounded input in one task. ``None``
        (or a net of a state with no committed rows yet) keeps the shuffle.

        ``ts_range`` (ttl relations) is this write's driver-side superset of
        its rows' event times; a net takes the union of its constituents' —
        stale-wide, never stale-narrow."""
        is_ttl = (r := self._by_name.get(rel)) is not None and r.ttl is not None
        live = self._segments.get(rel, [])
        ranges = self._seg_ts.get(rel, {})
        self._version[rel] += 1
        p = self._path(rel, self._version[rel])
        if 1 <= len(live) < self.compact_every:
            # upper bound while appends accumulate: the next net can only
            # shrink the true count
            self._state_rows[rel] += self._write_state(rel, delta, p, max_rows=delta_rows)
            self._segments[rel] = [*live, p]
            if is_ttl:
                self._seg_ts[rel] = {**ranges, p: ts_range or (None, None)}
            return
        base = self._state_rows.get(rel)
        bound = None if base is None or delta_rows is None else base + delta_rows
        merged = self._read_state(rel).unionByName(delta)
        # exact: the net of every live version and the delta
        self._state_rows[rel] = self._write_state(
            rel, merged, p, net_fn or self._net, max_rows=bound
        )
        cleanup.extend(live)
        self._segments[rel] = [p]
        if is_ttl:
            self._seg_ts[rel] = {p: _range_union([*ranges.values(), ts_range])}

    def _zone_col(self, r: RelSpec) -> Column:
        """Coarse event-time zone of a row — floor(ts / ttl_zone width), with
        date/timestamp columns taken through epoch seconds."""
        from pyspark.sql.types import DateType, TimestampNTZType, TimestampType

        w = _zone_width(r.ttl_zone)
        ts = F.col(r.ttl[0])
        dt = self._schemas[r.name][r.ttl[0]].dataType
        if isinstance(dt, (DateType, TimestampType, TimestampNTZType)):
            ts = ts.cast("timestamp").cast("long")
        return F.floor(ts / F.lit(w))

    def _write_state(
        self,
        rel: str,
        df: DataFrame,
        path: str,
        net_fn=None,
        max_rows: int | None = None,
    ) -> int:
        """Write one state version — an appended delta, or with ``net_fn``
        the net of a (possibly unmerged) weighted multiset — with at most
        one exchange; returns the rows written.

        One partitioning rule serves both. A ``max_rows`` bound within the
        planner's broadcast rule (``_fits_broadcast``) writes a
        ``coalesce(1)`` of the input in ONE task: ``SinglePartition``
        satisfies the net's clustering, so the write plan has no exchange at
        all. A trickle batch's small states and appends pay one job each
        instead of a shuffle-map job plus a write job. Otherwise a bucketed
        relation is repartitioned by ``_bucket`` FIRST; the net's groupBy
        keys include ``_bucket``, so Catalyst elides the aggregate's own
        exchange (HashPartitioning(_bucket) satisfies the aggregate's
        clustering requirement: every group lives in one partition), and the
        write's partitionBy sees data already bucket-partitioned (round 9;
        round 8 paid two full-state exchanges). Non-bucketed state shuffles
        once, in the net.

        A bucketed relation is written partitioned on ``_bucket`` (parquet
        partition column) and SORTED by ``_bucket`` then bucket_key within
        each write task, so the layout stays one file per bucket directory
        whether one task writes each bucket (hash-partitioned on
        ``_bucket``; at cluster scale the same layout shards each bucket
        across executors) or one task writes them all. The key sort within
        each file lets parquet page/rowgroup min-max statistics make the
        pushed probe-key ``In`` filter prune within the bucket — together,
        the on-disk analogue of a keyed state store's key-group + key index.

        A ttl relation's state is instead sorted by its event-time column, so
        the eviction band read ([old horizon, new horizon), a pushed range
        predicate) prunes to the closing rowgroups — fresh rows and the old-ts
        eviction negations of an appended version land in separate
        rowgroups instead of widening every rowgroup's min-max. A relation
        that is BOTH bucketed and ttl keeps the key sort (the probe-key In
        pushdown runs on every delta-join term, eviction once per batch) —
        declaring ``ttl_zone`` inserts a coarse event-time zone AHEAD of the
        key sort, so rowgroups cluster by zone (narrow ts min/max: the band
        read prunes by rowgroup even in a netted version spanning the whole
        window) while keys stay sorted within each zone (the In filter reads
        at most one rowgroup run per zone). Without ttl_zone, band reads on
        bucketed state prune at version granularity only — documented
        trade-off."""
        from pyspark.sql import Observation

        r = self._by_name.get(rel)
        bucketed = r is not None and r.buckets > 0
        if max_rows is not None and self._fits_broadcast([(df.schema, max_rows)]):
            df = df.coalesce(1)
        elif bucketed:
            df = df.repartition(r.buckets, F.col(BUCKET))
        if net_fn is not None:
            # re-conform: the net's SUM may widen/reorder columns; a plain
            # projection that preserves the child's partitioning
            df = self._conform(rel, net_fn(df))
        # every write gets its row count OBSERVED on the write plan itself (a
        # map-side CollectMetrics — no partitioning change, no extra job): it
        # feeds the cost-based probe-pruning gate (optimization round r11)
        # and the next write's row bound, both via _state_rows
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        if bucketed:
            sort_cols: list = [F.col(BUCKET)]
            if r.ttl is not None and r.ttl_zone is not None:
                sort_cols.append(self._zone_col(r))
            sort_cols += [F.col(c) for c in r.bucket_key]
            (
                df.sortWithinPartitions(*sort_cols)
                .write.mode("overwrite")
                .partitionBy(BUCKET)
                .parquet(path)
            )
        elif r is not None and r.ttl is not None:
            df.sortWithinPartitions(r.ttl[0]).write.mode("overwrite").parquet(
                path
            )
        else:
            df.write.mode("overwrite").parquet(path)
        return int(obs.get["rows"])

    # --- result -------------------------------------------------------------
    def topk_result(self) -> DataFrame:
        """The maintained ``ORDER BY … LIMIT k`` (spec.top_k) as a DataFrame
        — the view's schema, restricted and ranked. Global form: the bounded
        driver buffer's exact top-k (O(k) rows). Grouped form: the sharded
        candidate state ranked per group."""
        if self._topk is None:
            raise ValueError("spec has no top_k")
        return self._topk.result()

    def topk_delta(self) -> DataFrame | None:
        """The last committed batch's changelog OF THE TOP-K VIEW itself:
        ±1 weighted entries/exits, committed inside this engine's manifest —
        the exactly-once feed for an ordered continuous sink (a
        crash-replayed batch reads the SAME rows)."""
        t = self.spec.top_k
        if t is None:
            raise ValueError("spec has no top_k")
        if t.partition_by and not t.emit_changelog:
            raise ValueError(
                "grouped top_k emits its changelog only when "
                "TopKSpec(emit_changelog=True) — it costs two extra ranks "
                "over the touched shards per batch, so it is opt-in"
            )
        return self._topk.emitted_df()

    def result(self, touched: DataFrame | None = None) -> DataFrame:
        """Maintained view, optionally RESTRICTED to the groups in ``touched``
        (group-key rows) BEFORE ``finalize`` — the hook downstream consumers
        (emit_delta, chained engines, GroupedTopKView refills) use to avoid
        full-view scans. emit_delta therefore treats finalize as row-wise
        over group rows (a finalize that aggregates ACROSS groups should be
        expressed as a chained engine via emit_delta instead — that is
        exactly what the hook is for).

        The touched restriction is PUSHED DOWN onto every state read as a
        null-safe semi-join (it commutes with the per-group reductions,
        which never mix groups), so reading a subset of groups costs
        O(subset ⋈ state), not O(all groups). At 100 TB with bucketed/keyed
        state the same semi-join is a co-located point lookup per touched
        group. ``touched`` may name any SUBSET of the group columns (e.g.
        GroupedTopKView refills by partition columns only): a subset
        restricts to a superset of the named groups, which commutes with the
        per-group reductions exactly like the full key does."""
        return self._view(touched, touched_unique=False)

    def _view(self, touched: DataFrame | None, touched_unique: bool) -> DataFrame:
        """``result(touched)``. With ``touched_unique`` — the emit stage's
        touched set, one row per full group key — the restriction is an
        inner join, which equals the semi-join on unique keys; in a batch
        that folds in one task the state read is coalesced to one
        partition and the hash built on ``touched``, so the restricted view
        plans no Exchange. (A semi-join would not do: the optimizer pushes
        a left-semi join below a coalesce, which leaves the join's state
        side partitioned as read.) Group keys match null-safely: a group
        whose key holds a NULL is still one group."""
        gb = list(self.spec.group_by)
        on = [c for c in gb if touched is not None and c in touched.columns]

        def restrict(df: DataFrame) -> DataFrame:
            if not on:
                return df
            t = touched.select(*on)
            if not touched_unique:
                return _join_on_keys(df, t, on, "left_semi")
            if self.last_one_task:
                df, t = df.coalesce(1), t.coalesce(1).hint("shuffle_hash")
            return _join_on_keys(df, t, on, "inner")

        agg = restrict(self._read_state("agg"))
        if not self._netted("agg"):
            agg = self._agg_net(agg)  # lazy reduction over live segments
        out = agg.filter(F.col("support") > 0)
        # non-invertible measures: reduce each value histogram over the
        # positive-net-weight values. Inner join is safe: support > 0 forces
        # at least one value with net weight > 0 in every surfaced group
        # (Σ_v w_v = support), so no surfaced group can lack histogram rows.
        fns = {"min": F.min, "max": F.max, "count_distinct": F.count_distinct}
        for name, (kind, _) in self.spec.hist_measures.items():
            h = restrict(self._read_state(f"hist::{name}"))
            if not self._netted(f"hist::{name}"):
                h = self._net(h)  # lazy reduction over unmerged segments
            per_group = (
                h.filter(F.col(WEIGHT) > 0).groupBy(*gb).agg(fns[kind]("_v").alias(name))
            )
            if gb:
                out = _join_on_keys(out, per_group, gb, "inner")
            else:  # global aggregate: both sides are single-row
                out = out.crossJoin(F.broadcast(per_group))
        if self.spec.preserve is not None:
            # left-outer padding: live preserved groups the inner aggregate
            # doesn't surface, with NULL measures (coalesce in finalize)
            pstate = restrict(self._read_state(self.spec.preserve))
            if not self._netted(self.spec.preserve):
                pstate = self._net(pstate)
            pgroups = pstate.filter(F.col(WEIGHT) > 0).select(*gb).distinct()
            padded = _join_on_keys(pgroups, out.select(*gb), gb, "left_anti")
            out = out.unionByName(padded, allowMissingColumns=True)
        if self.spec.having is not None:
            out = out.filter(self.spec.having())
        out = out.select(
            *self.spec.group_by, *self.spec.measures.keys(), *self.spec.hist_measures.keys()
        )
        if self.spec.finalize is not None:
            out = self.spec.finalize(out)
        return out
