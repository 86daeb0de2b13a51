"""Continuously-maintained exact TOP-K over a maintained view's changelog —
the ORDER BY … LIMIT k clause of the reference's intended Q10 (SURVEY.md §0;
the reference DROPPED it — its dataflow emits unordered per-group updates,
ref Q10AggregateProcessFunction.java:58-76, and DataFlow.java:26-61 wires no
ordering/limit operator anywhere), kept correct under inserts AND deletes.

Why this needs machinery: a deletion can retire a top-k member, and no
buffer of exactly k rows can recover #k+1 — the classic IVM top-k problem
(the k-generalization of the argmax case, plans/ivm_ext.py Q15). The naive
continuous answer — re-rank the full maintained view after every batch — is
exact but O(groups log k) PER BATCH (``incremental_q10_topk_stream`` in
plans/streaming_plans.py keeps that form as the documented baseline, the
``sim_brute_topk`` of this family). ``TopKView`` is the scale path:

- It consumes the engine's ``emit_delta`` CHANGELOG (pre-row weight −1 /
  post-row weight +1 per touched group) — delta-sized input, no view scan.
- It maintains a driver-side candidate BUFFER of the true top-(k+slack)
  rows under the TOTAL order (order value, then unique tiebreak keys),
  bounded by k+2·slack rows — the same bounded-driver-state budget as the
  engine's probe-key collects. Invariant: ``buffer = {live view rows ranked
  at-or-before boundary B}`` where B is the sort key of the worst row kept
  at the last refill/trim; B makes admission EXACT (the tiebreak keys are
  unique, so the order is total and "better than B" is unambiguous —
  a threshold on the order value alone would split ties and emit a wrong
  row after deletions drain the kept side of the tie).
- Per batch it collects only the changelog rows that can touch the buffer:
  retractions of buffered keys and insertions ranked better than B — both
  pushed as Spark-side filters, so driver transfer tracks churn in the top
  region, not the view or even the batch.
- Deletions shrink the buffer; while ``len(buffer) >= k`` the top-k is a
  prefix of the buffer and emission is pure driver-side ranking of ≤
  k+2·slack rows. Only when retraction drains the buffer BELOW k does it
  REFILL from the full view — one ``orderBy().limit(k+slack)`` job
  (TakeOrderedAndProject: map-side partial top-k, tiny shuffle), amortized
  over at least ``slack`` top-region deletions.

At 100 TB: the changelog filters are broadcast-size literals (≤ buffer
rows), the refill is the only O(groups) touch and is rate-bounded by actual
top-region churn, and the buffer itself is O(k) driver memory.
``GroupedTopKView`` keeps its O(groups) candidate state Spark-side in 8
fixed hash shards of versioned parquet dirs.

Neither view commits anything itself. Each exposes its whole state as
JSON-safe values through ``state()``/``load()``: ``TopKView``'s typed-JSON
buffer, boundary and emitted rows, ``GroupedTopKView``'s shard maps and
emitted dir. Declaring ``AcyclicQuerySpec.top_k`` (TopKSpec,
streaming/acyclic.py) hands that state to the engine, which folds each
batch into the view before its own atomic manifest commit and records the
view's state inside it: one commit point per engine, the operator-state
snapshot at the batch barrier. A failed batch restores the engine and the
view together, a resumed engine reloads both with no view scan, and a
crash-replayed batch is skipped by the engine, whose ``topk_delta()`` hands
a downstream sink the committed changelog again.

NULL order values never enter the buffer (SQL ORDER BY with the DuckDB/ANSI
default NULLS LAST semantics for a LIMIT that the non-NULL rows satisfy).
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable
from datetime import date, datetime
from decimal import Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

WEIGHT = "weight"
BUCKET = "_bucket"  # reserved shard column, engine streaming/acyclic.py


def _run_parallel(thunks: list) -> list:
    """Ordered results of independent thunks, run concurrently from one
    bounded driver thread pool (width ``min(4, len(thunks))``; guide §2.6)
    so their Spark jobs' scheduling/commit latencies overlap instead of
    serializing. The one pool behind the engine's state commits and term
    builds and GroupedTopKView's shard writes. ``inheritable_thread_target`` propagates the
    submitting thread's JVM-local properties (job group / description), so
    attribution and cancellation behave as on the calling thread. Every
    thunk settles before the first error (in submission order) is raised;
    one thunk runs inline."""
    if len(thunks) <= 1:
        return [t() for t in thunks]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    wrapped = [inheritable_thread_target(t) for t in thunks]
    with ThreadPoolExecutor(max_workers=min(4, len(wrapped))) as pool:
        futures = [pool.submit(t) for t in wrapped]
    return [f.result() for f in futures]


def _dump_value(v) -> list:
    """JSON-safe (tag, value) encoding of one manifest value (a watermark, a
    top-k buffer cell). date/datetime/Decimal keep their exact type across
    the round-trip: fromisoformat would silently widen a date string to
    datetime, a naive timestamp stays naive, and a Decimal is not
    JSON-serializable raw. Any other non-JSON type raises ``TypeError`` —
    while the manifest is still being built, before its replace."""
    if isinstance(v, datetime):
        return ["dt", v.isoformat(sep=" ")]
    if isinstance(v, date):
        return ["d", v.isoformat()]
    if isinstance(v, Decimal):
        return ["dec", str(v)]
    if v is None or isinstance(v, (bool, int, float, str)):
        return ["raw", v]
    raise TypeError(f"no manifest encoding for {type(v).__name__} value {v!r}")


def _load_value(t: list):
    tag, v = t
    if tag == "dt":
        return datetime.fromisoformat(v)
    if tag == "d":
        return date.fromisoformat(v)
    if tag == "dec":
        return Decimal(v)
    return v


def _bucket_expr(cols, n: int) -> Column:
    """Bucket id of a key tuple (column names or Columns) — the shard id of
    the engine's bucketed state and of GroupedTopKView's candidates. Cast to
    string first: Murmur3 hashes differ across numeric widths, and the two
    sides of an FK edge may pin different integer types — the string form is
    width-stable within a numeric family, so equal key values land in equal
    buckets on both sides (the engine's _probe_pruning additionally casts
    the probe side to the state side's declared types, covering cross-family
    edges like int vs DECIMAL whose string forms differ)."""
    return F.pmod(
        F.hash(*[(c if isinstance(c, Column) else F.col(c)).cast("string") for c in cols]),
        F.lit(n),
    )


def _norm_order(order_by) -> tuple[tuple[str, bool], ...]:
    """Normalize an ORDER BY declaration to ``((column, desc_bool), ...)``.

    Accepted forms (TopKSpec.order_by and both views' order parameter):
    a single column name (ranked descending), or a sequence whose entries
    are column names (descending) or ``(column, direction)`` pairs,
    direction being "asc"/"desc" or a bool (True = descending) — the
    continuous twin of a multi-key ``ORDER BY v DESC, d ASC``."""
    if isinstance(order_by, str):
        return ((order_by, True),)
    out = []
    for e in order_by:
        if isinstance(e, str):
            out.append((e, True))
        else:
            c, d = e
            out.append(
                (c, d.lower() == "desc" if isinstance(d, str) else bool(d))
            )
    if not out:
        raise ValueError("order_by must name at least one column")
    return tuple(out)


class _OrderedView:
    """What both views share: the TOTAL order — the ORDER BY columns, then
    the ascending unique-key tiebreak — as Spark expressions."""

    def __init__(self, k, order_col, key_cols, refill, spark, slack):
        self.k = k
        # multi-key ORDER BY (round 8): ((col, desc), ...) — ``order_col``
        # accepts a single name or a sequence of name/(name, dir) entries
        self.order_cols = _norm_order(order_col)
        self.key_cols = tuple(key_cols)
        self.slack = k if slack is None else slack
        self._refill_fn = refill
        self._spark = spark
        self._schema = None  # StructType of view rows, pinned at first use

    def _gc(self) -> None:
        """Delete files no recorded ``state()`` references — a view whose
        state is all in ``state()`` keeps none."""

    def _emitted_schema(self):
        """Schema of the emitted top-k changelog: the view's columns plus an
        int ``weight``."""
        from pyspark.sql.types import IntegerType, StructField, StructType

        return StructType([*self._schema.fields, StructField(WEIGHT, IntegerType())])

    def _sort_cols(self) -> list[Column]:
        return [
            F.col(c).desc() if d else F.col(c).asc() for c, d in self.order_cols
        ] + [F.col(c).asc() for c in self.key_cols]

    def _non_null(self, df: DataFrame) -> DataFrame:
        """NULL order values never rank (SQL NULLS LAST under a LIMIT the
        non-NULL rows satisfy)."""
        for c, _ in self.order_cols:
            df = df.filter(F.col(c).isNotNull())
        return df

    def _at_or_before(self, bvals: list[Column], bkeys: list[Column]) -> Column:
        """Row AT-OR-BEFORE the boundary whose order values are ``bvals`` and
        key values ``bkeys`` (literals or columns), under the TOTAL order:
        lexicographic over every (order column, direction), then the
        ascending key tiebreak — exact, because the keys are unique (a
        value-only threshold splits boundary ties and surfaces a wrong row
        after deletions). The trailing full-tie term is the boundary row
        itself: readmitting it after its own −pre/+post pop keeps a
        touched-but-unchanged boundary row from shrinking the buffer (the
        strictly-better form forced refills earlier than the
        ≥slack-deletions amortization); the k+2·slack capacity bound is
        unaffected because the pop freed the slot in the same batch."""
        cond = F.lit(False)
        eq = F.lit(True)
        for (c, desc), b in zip(self.order_cols, bvals):
            v = F.col(c)
            cond = cond | (eq & ((v > b) if desc else (v < b)))
            eq = eq & v.eqNullSafe(b)
        for c, b in zip(self.key_cols, bkeys):
            cond = cond | (eq & (F.col(c) < b))
            eq = eq & F.col(c).eqNullSafe(b)
        return cond | eq


class TopKView(_OrderedView):
    """Exact top-k of a continuously-maintained view, fed by its emit_delta
    changelog.

    ``k``          — rows to emit.
    ``order_col``  — the ranking ORDER BY of the view: a single column name,
                     or a sequence of names / ``(name, "asc"|"desc")`` pairs
                     for a multi-key ``ORDER BY v DESC, d ASC`` (round 8);
                     bare names rank descending (largest first).
    ``key_cols``   — columns forming a UNIQUE key of view rows (the group-by
                     key of the upstream engine); also the deterministic
                     ascending tiebreak, mirroring ``ORDER BY v DESC, key``.
    ``refill``     — zero-arg callable returning the full current view as a
                     DataFrame (e.g. ``engine.result``); invoked only when
                     retraction drains the buffer below k, or by an explicit
                     ``refill()``.
    ``spark``      — the session ``emitted_df``/``result`` build frames in.
    ``slack``      — extra buffered rows beyond k (default k): each refill
                     then survives at least ``slack`` top-region deletions.

    A new view starts FRESH: the empty buffer with no boundary is exactly
    "complete over the empty view", so the first batches build the buffer
    from the changelog alone without ever scanning state. To attach to an
    EXISTING view, call ``refill()`` once before the first batch.

    The whole state is O(k) driver memory; ``state()`` encodes it as typed
    JSON — the buffer, the boundary, and the last batch's emitted top-k
    changelog, rows as lists in schema order — and ``load()`` restores it.
    The engine records it inside its own manifest (``TopKSpec``), so the
    top-k commits in the engine's one manifest replace, with no Spark job,
    and a resumed engine reloads it with no refill.
    """

    def __init__(
        self,
        k: int,
        order_col: str,
        key_cols: tuple[str, ...],
        refill: Callable[[], DataFrame],
        spark,
        slack: int | None = None,
    ):
        super().__init__(k, order_col, key_cols, refill, spark, slack)
        # key tuple -> full row dict; bounded by k + 2*slack between trims
        self._buffer: dict[tuple, dict] = {}
        # sort key of the worst row retained at the last refill/trim;
        # None = the buffer holds EVERY live row (complete)
        self._boundary: tuple | None = None
        self.refills = 0  # observability: tests/tools assert amortization
        # rows the last/all apply() collected AFTER the boundary restriction —
        # the actual per-batch driver transfer (tools/topk_churn_scaling.py
        # measures this ≪ touched groups)
        self.applied_rows = 0
        self.applied_rows_total = 0
        # the last apply()'s top-k changelog; None before the first
        self._emitted: list[dict] | None = None

    # --- total order ---------------------------------------------------------
    def _key(self, row: dict) -> tuple:
        return tuple(row[c] for c in self.key_cols)

    def _skey(self, row: dict) -> tuple:
        return (tuple(row[c] for c, _ in self.order_cols), self._key(row))

    def _better(self, a: tuple, b: tuple) -> bool:
        """Strict 'a ranks before b' under (order values..., tiebreak keys)
        — lexicographic with a per-column direction, total because key_cols
        are unique per row."""
        for (_, desc), av, bv in zip(self.order_cols, a[0], b[0]):
            if av != bv:
                return av > bv if desc else av < bv
        return a[1] < b[1]

    def _admissible(self, s: tuple) -> bool:
        """AT-OR-BEFORE the boundary (see ``_at_or_before``, its Spark-side
        twin)."""
        return (
            self._boundary is None
            or s == self._boundary
            or self._better(s, self._boundary)
        )

    def _ranked(self) -> list[dict]:
        rows = sorted(self._buffer.values(), key=self._key)
        # stable sorts applied least-significant-first: ties on every order
        # column stay tiebreak-ascending
        for c, desc in reversed(self.order_cols):
            rows.sort(key=lambda r, _c=c: r[_c], reverse=desc)
        return rows

    # --- state: the O(k) buffer as typed JSON -------------------------------
    def _pin_schema(self, template: DataFrame) -> None:
        if self._schema is None:
            self._schema = template.schema

    def state(self) -> dict:
        """The view's whole state as JSON-safe values: the schema (None
        before the first batch), the buffer, the boundary and the last
        batch's emitted changelog, rows as typed-JSON lists in schema
        order. A value the codec cannot encode raises ``TypeError``."""
        names = self._schema.fieldNames() if self._schema is not None else []

        def rows(rs, cols):
            return [[_dump_value(r[c]) for c in cols] for r in rs]

        return {
            "schema": None if self._schema is None else json.loads(self._schema.json()),
            "buffer": rows(self._buffer.values(), names),
            "boundary": None
            if self._boundary is None
            else [[_dump_value(x) for x in part] for part in self._boundary],
            "emitted": None if self._emitted is None else rows(self._emitted, [*names, WEIGHT]),
        }

    def load(self, data: dict) -> None:
        """Restore a ``state()``."""
        from pyspark.sql.types import StructType

        self._schema = None if data["schema"] is None else StructType.fromJson(data["schema"])
        names = self._schema.fieldNames() if self._schema is not None else []

        def rows(lists, cols):
            return [dict(zip(cols, map(_load_value, r))) for r in lists]

        self._buffer = {self._key(r): r for r in rows(data["buffer"], names)}
        self._boundary = (
            None
            if data["boundary"] is None
            else tuple(tuple(map(_load_value, part)) for part in data["boundary"])
        )
        self._emitted = None if data["emitted"] is None else rows(data["emitted"], [*names, WEIGHT])

    def emitted_df(self) -> DataFrame | None:
        """The last batch's emitted top-k changelog as a DataFrame — after a
        resume, the committed batch's rows, so a crash-replayed batch hands
        a downstream sink the SAME rows. Built from driver-held rows, so it
        launches no job."""
        if self._emitted is None:
            return None
        schema = self._emitted_schema()
        return self._spark.createDataFrame(
            [tuple(r[c] for c in schema.fieldNames()) for r in self._emitted],
            schema,
        )

    # --- maintenance ---------------------------------------------------------
    def refill(self) -> None:
        """Rebuild the buffer as the true top-(k+slack) of the full view —
        ONE TakeOrderedAndProject job. Fewer rows than that means the buffer
        is complete (boundary None: every insert is admitted)."""
        view = self._refill_fn()
        self._pin_schema(view)
        rows = [
            r.asDict()
            for r in self._non_null(view)
            .orderBy(*self._sort_cols())
            .limit(self.k + self.slack)
            .collect()
        ]
        self._buffer = {self._key(r): r for r in rows}
        self._boundary = self._skey(rows[-1]) if len(rows) == self.k + self.slack else None
        self.refills += 1

    def _trim(self) -> None:
        if len(self._buffer) <= self.k + 2 * self.slack:
            return
        ranked = self._ranked()[: self.k + self.slack]
        self._buffer = {self._key(r): r for r in ranked}
        self._boundary = self._skey(ranked[-1])

    def _collect_touching(self, changelog: DataFrame) -> list[dict]:
        """The changelog rows that can affect the buffer, restricted
        Spark-side — what bounds the per-batch driver transfer to top-region
        churn, in BOTH boundary regimes.

        With a boundary: retractions matter only for buffered keys, and
        insertions only when ranked at-or-before the boundary. The FULL
        lexicographic tiebreak (value, then every key column) is pushed into
        the filter, so a low-cardinality measure (integer counts, Zipf ties)
        whose thousands of boundary-VALUE ties would otherwise all reach the
        driver stays O(buffer): only rows at-or-before B under the TOTAL
        order pass — exact, because every buffered row ranks at-or-before B
        (retractions of buffered keys always pass) and admission itself is
        at-or-before B.

        WITHOUT one (a fresh stream, or a view small enough that
        the buffer is complete), a naive collect of the whole changelog is
        unbounded on a large first batch — instead:

        - retractions: boundary None ⇒ the buffer holds EVERY live non-NULL
          row, so every −pre row is a buffered key — collect them all
          (≤ |buffer| ≤ k+2·slack rows, no key filter needed);
        - insertions: collect only the top-(k+2·slack+1) under the total
          order. If the cap comes back full, some insertions were left
          behind — but each collected row is a distinct key admitted
          unconditionally, so the folded buffer exceeds k+2·slack, the trim
          fires, and the new boundary (worst of the kept k+slack, all drawn
          from buffer ∪ collected) ranks before every uncollected row —
          the completeness claim is withdrawn exactly when it stops holding.
          A non-full return means every insertion was collected and the
          buffer stays complete."""
        ch = self._non_null(changelog)
        if self._boundary is not None:
            # literals cast to the PINNED column type: a collected
            # timestamp_ntz boundary value must compare as ntz, not as a
            # re-inferred ltz literal
            types = {f.name: f.dataType for f in self._schema.fields}
            bvals, bkeys = self._boundary
            ch = ch.filter(
                self._at_or_before(
                    [F.lit(v).cast(types[c]) for (c, _), v in zip(self.order_cols, bvals)],
                    [F.lit(v).cast(types[c]) for c, v in zip(self.key_cols, bkeys)],
                )
            )
            return [r.asDict() for r in ch.collect()]
        rows: list[dict] = []
        if self._buffer:
            rows += [r.asDict() for r in ch.filter(F.col(WEIGHT) < 0).collect()]
        rows += [
            r.asDict()
            for r in ch.filter(F.col(WEIGHT) > 0)
            .orderBy(*self._sort_cols())
            .limit(self.k + 2 * self.slack + 1)
            .collect()
        ]
        return rows

    def apply(self, changelog: DataFrame | None) -> list[dict] | None:
        """Fold one batch's emit_delta changelog into the buffer: retractions
        first (a group's update arrives as −pre/+post on the same key), then
        admissions at-or-before the boundary; refill only if the buffer
        drained below k while incomplete.

        Returns the CHANGELOG OF THE TOP-K VIEW ITSELF for this batch — the
        pre-batch top-k rows that left with weight −1 and the post-batch rows
        that entered with weight +1 (a rank-only move of a surviving row is
        not a change; a value update is −old/+new). O(k) driver work, and a
        valid weighted delta for a downstream engine or an exactly-once sink:
        the same composition hook the engine's emit_delta provides, so a
        maintained top-k TABLE can sit at the end of a chain.

        The fold mutates the buffer in place; an owner that commits it with
        other state (the engine) restores its pre-batch ``state()`` when the
        batch fails, so a retry folds against the committed buffer and
        emits the true delta, not an idempotent empty one."""
        if changelog is None:
            return None
        self._pin_schema(changelog.drop(WEIGHT))
        pre = {self._skey(r): r for r in self.result_rows()}
        rows = self._collect_touching(changelog)
        self.applied_rows = len(rows)
        self.applied_rows_total += len(rows)
        for r in rows:
            if r[WEIGHT] < 0:
                self._buffer.pop(self._key(r), None)
        for r in rows:
            if r[WEIGHT] <= 0:
                continue
            r = {c: v for c, v in r.items() if c != WEIGHT}
            if self._admissible(self._skey(r)):
                self._buffer[self._key(r)] = r
        self._trim()
        if self._boundary is not None and len(self._buffer) < self.k:
            self.refill()
        post = {self._skey(r): r for r in self.result_rows()}
        out = [{**pre[s], WEIGHT: -1} for s in pre if s not in post]
        out += [{**post[s], WEIGHT: 1} for s in post if s not in pre]
        self._emitted = out
        return out

    # --- emission ------------------------------------------------------------
    def result_rows(self) -> list[dict]:
        """The exact top-k under (order value, ascending key tiebreak)."""
        return self._ranked()[: self.k]

    def result(self) -> DataFrame:
        """The exact top-k as a DataFrame of the view's schema — O(k) rows
        from the buffer. Before the first batch the schema is the refill
        view's."""
        schema = self._schema if self._schema is not None else self._refill_fn().schema
        return self._spark.createDataFrame(
            [tuple(r[c] for c in schema.fieldNames()) for r in self.result_rows()], schema
        )


class GroupedTopKView(_OrderedView):
    """Exact top-k WITHIN EVERY GROUP of a continuously-maintained view —
    the continuous twin of `row_number() OVER (PARTITION BY g ORDER BY v
    DESC) <= k` — fed by the view's emit_delta changelog.

    Where ``TopKView`` keeps one bounded driver-side buffer, groups can
    number in the millions, so here ALL state is Spark-side, sharded by
    group: a CANDIDATE table (each group's true top-(k+slack) rows under
    the total order value-then-keys) and a BOUNDARY table (the exact sort
    key of the worst candidate, present only for groups trimmed at
    capacity — absent boundary = the candidates are that group's complete
    live row set). Per batch, entirely as keyed equi-joins/windows:

    - retractions anti-join candidates on (group, key);
    - insertions admit iff ranked at-or-before the group's boundary
      (exact: keys make the order total — a value-only threshold splits
      boundary ties and surfaces a wrong row after deletions);
    - groups whose candidates drained below k while trimmed REFILL from the
      view RESTRICTED to those groups (``engine.result(touched)`` pushes
      the restriction into every state read as a semi-join) through one
      per-group window rank — O(drained groups ⋈ state), amortized ≥ slack
      deletions per group per refill;
    - groups past k+2·slack re-trim to k+slack and refresh their boundary.

    The whole batch is ONE declarative plan (no driver round-trips beyond a
    ≤``BUCKETS``-int touched-bucket collect and one gate probe). Per batch
    only the TOUCHED part of the state is read and rewritten:
    candidate/boundary rows are hash-sharded by group into a fixed
    ``BUCKETS`` = 8 partitions (the engine's ``_bucket`` discipline, same
    ``_bucket_expr``; the count never grows), the changelog's bucket ids
    restrict every state read to those shards, and untouched shards' files
    carry forward as-is — per-batch cost is O(Δ ⋈ touched-bucket
    candidates), not O(all candidates), and candidates are themselves a
    (k+slack)/members reduction of the view. Emission ranks candidates per
    group — O(candidates), never O(view).

    STATE (``state_dir``): each batch writes the touched shards as new
    versioned parquet directories under ``state_dir`` and points the
    shard maps at them; ``state()`` is those maps, the emitted dir, the
    schemas and the dir version — small JSON, no rows. The engine records
    it inside its own manifest (``TopKSpec``), so a crash or executor loss
    at ANY point leaves the last committed shards readable, and a resumed
    engine reattaches with no re-rank of the view. ``_gc`` deletes the
    dirs no recorded state references; the engine runs it after its
    manifest commit and on resume.

    NULL order values never enter candidates (SQL NULLS LAST for a LIMIT
    the non-NULL rows satisfy). A new view starts empty: the engine builds
    it together with the view it ranks, and a resume reloads ``state()``.
    """

    BUCKETS = 8  # hash shards of the candidate and boundary state

    def __init__(
        self,
        k: int,
        order_col: str,
        group_cols: tuple[str, ...],
        key_cols: tuple[str, ...],
        refill,
        state_dir: str,
        spark,
        slack: int | None = None,
        emit: bool = False,
    ):
        # refill: Callable[[DataFrame | None], DataFrame] — the full view,
        # optionally restricted to the given group-key rows
        # (IncrementalAcyclicQuery.result's touched semantics)
        super().__init__(k, order_col, key_cols, refill, spark, slack)
        self.group_cols = tuple(group_cols)
        self.state_dir = state_dir
        self._version = 0  # last written shard-dir version
        self._bschema = None  # StructType of boundary rows
        self._cand_map: dict[str, str] = {}  # bucket id -> live leaf dir
        self._bound_map: dict[str, str] = {}
        # emit=True: apply() additionally returns the PER-GROUP TOP-K view's
        # own netted ±changelog (entries/exits across touched groups) — the
        # same composition hook TopKView provides, Spark-side: two ranks
        # over the touched shards and an O(touched top-k) net. Written to a
        # dir ``state()`` names, so replay redelivers the same rows.
        self.emit = emit
        self._emitted: str | None = None  # parquet dir of the last emitted delta
        # observability: tools assert the touched-restriction cost model
        self.instrument = False
        self.last_touched_buckets = 0
        self.last_read_rows = 0
        self.last_plan = ""  # physical plan of the last batch's candidate rebuild

    # --- internals -----------------------------------------------------------
    def _rank(self, df: DataFrame) -> DataFrame:
        from pyspark.sql.window import Window

        w = Window.partitionBy(*self.group_cols).orderBy(*self._sort_cols())
        return df.withColumn("_rn", F.row_number().over(w))

    def _bound_of(self, ranked: DataFrame) -> DataFrame:
        """Boundary rows for groups trimmed AT capacity (row k+slack exists)."""
        return ranked.filter(F.col("_rn") == self.k + self.slack).select(
            *self.group_cols,
            *[
                F.col(c).alias(f"_bv{i}")
                for i, (c, _) in enumerate(self.order_cols)
            ],
            *[F.col(c).alias(f"_bk{i}") for i, c in enumerate(self.key_cols)],
        )

    # --- sharded state I/O ---------------------------------------------------
    def _pin_schemas(self, template: DataFrame) -> None:
        if self._schema is not None:
            return
        from pyspark.sql.types import StructField, StructType

        self._schema = template.schema
        by_name = {f.name: f for f in self._schema.fields}
        self._bschema = StructType(
            [by_name[c] for c in self.group_cols]
            + [
                StructField(f"_bv{i}", by_name[c].dataType)
                for i, (c, _) in enumerate(self.order_cols)
            ]
            + [
                StructField(f"_bk{i}", by_name[c].dataType)
                for i, c in enumerate(self.key_cols)
            ]
        )

    def _empty(self, schema) -> DataFrame:
        return self._spark.createDataFrame([], schema)

    def _read(self, mp: dict[str, str], schema, buckets) -> DataFrame:
        want = None if buckets is None else {str(b) for b in buckets}
        paths = [p for b, p in mp.items() if want is None or b in want]
        if not paths:
            return self._empty(schema)
        return self._spark.read.schema(schema).parquet(*paths)

    def _read_cand(self, buckets=None) -> DataFrame:
        return self._read(self._cand_map, self._schema, buckets)

    def _read_bound(self, buckets=None) -> DataFrame:
        return self._read(self._bound_map, self._bschema, buckets)

    # --- state: shard maps, schemas, dir version -----------------------------
    def state(self) -> dict:
        """The view's state as JSON-safe values: the live shard dir per
        bucket of the candidate and boundary maps, the emitted dir, both
        schemas (None before the first batch) and the dir version."""
        return {
            "version": self._version,
            "cand": dict(self._cand_map),
            "bound": dict(self._bound_map),
            "emitted": self._emitted,
            "schema": None if self._schema is None else json.loads(self._schema.json()),
            "bschema": None if self._bschema is None else json.loads(self._bschema.json()),
        }

    def load(self, data: dict) -> None:
        """Restore a ``state()``."""
        from pyspark.sql.types import StructType

        self._version = data["version"]
        self._cand_map = dict(data["cand"])
        self._bound_map = dict(data["bound"])
        self._emitted = data["emitted"]
        self._schema = None if data["schema"] is None else StructType.fromJson(data["schema"])
        self._bschema = None if data["bschema"] is None else StructType.fromJson(data["bschema"])

    def _gc(self) -> None:
        """Delete the version dirs under ``state_dir`` that the current
        maps do not reference: superseded shards, and partial writes of a
        failed batch. Safe once the state naming these maps is recorded."""
        if not os.path.isdir(self.state_dir):
            return
        live = {
            os.path.dirname(p)
            for p in (*self._cand_map.values(), *self._bound_map.values())
        }
        live.add(self._emitted)
        for entry in os.listdir(self.state_dir):
            full = os.path.join(self.state_dir, entry)
            if full not in live:
                shutil.rmtree(full, ignore_errors=True)

    def _net_delta(self, pre: DataFrame, post: DataFrame) -> DataFrame:
        """±changelog OF THE TOP-K VIEW for one batch: post(+1) ∪ pre(−1),
        NETTED so rows present in both (the overwhelming majority within a
        touched shard) cancel — only true entries/exits/value-updates
        survive, O(changed top-k rows)."""
        cols = [f.name for f in self._schema.fields]
        u = post.withColumn(WEIGHT, F.lit(1)).unionByName(
            pre.withColumn(WEIGHT, F.lit(-1))
        )
        return (
            u.groupBy(*cols)
            .agg(F.sum(WEIGHT).cast("int").alias(WEIGHT))
            .filter(F.col(WEIGHT) != 0)
        )

    def _topk_of(self, df: DataFrame) -> DataFrame:
        return self._rank(df).filter(F.col("_rn") <= self.k).drop("_rn")

    def _commit(
        self,
        cand: DataFrame,
        bound: DataFrame,
        touched: list[int],
        pre_topk: DataFrame | None = None,
    ) -> DataFrame | None:
        """Write the post-batch state of the TOUCHED shards as the next
        version's parquet dirs and point the shard maps at them; untouched
        shards' files carry forward. Nothing is deleted here: the owner
        records ``state()`` and then runs ``_gc``. If the batch fails, the
        owner restores its pre-batch ``state()`` — the version included —
        so the retry overwrites the same dirs, which no recorded state
        references. With ``emit`` (pre_topk given), the top-k view's netted
        ±changelog is computed from the post-batch candidate frame (no
        recompute of the candidate plan), written in the same wave, and
        returned."""
        fields = [f.name for f in self._schema.fields]
        cand = cand.select(*fields)
        v = self._version = self._version + 1
        n = max(len(touched), 1)
        # the candidate write, the boundary write, AND the emitted-changelog
        # write are mutually independent actions into distinct paths — the
        # emit delta ranks the in-memory candidate frame (see below) against
        # the PRE-batch files, never the freshly written ones — so all three
        # run from driver threads and their job latencies overlap (guide
        # §2.6; optimization round r11; the emit write joined the wave once
        # it stopped reading the written shards back). They share the
        # lazily-checkpointed candidate plan; concurrent first
        # materialization is a benign block-store put race.
        def _write_shards(df: DataFrame, name: str) -> str:
            path = os.path.join(self.state_dir, name)
            (
                df.withColumn(BUCKET, _bucket_expr(self.group_cols, self.BUCKETS))
                .repartition(n, F.col(BUCKET))
                .sortWithinPartitions(*self.group_cols)
                .write.mode("overwrite")
                .partitionBy(BUCKET)
                .parquet(path)
            )
            return path

        epath = os.path.join(self.state_dir, f"emit_v{v}")
        if pre_topk is not None:
            # post top-k ranks the candidate frame DIRECTLY: ``cand`` is the
            # exact content of the freshly written touched shards (every
            # candidate row hashes into a touched bucket), so this is the
            # same rows with no plan recompute — the former read-back of the
            # written files paid a listing job plus a disk scan AND had to
            # wait for the shard writes to finish. Pre reads the superseded
            # files, still on disk until the post-commit GC.
            # r12: no coalesce(1) — it merged the whole rank/net plan into
            # ONE task; AQE already coalesces the delta's post-aggregate
            # partitions without serializing the upstream computation at
            # scale. (A persist()-based in-memory handoff of the delta was
            # tried and REVERTED: caching materializes the plan without
            # AQE's partition coalescing — 2 s/stack slower at sf0.1 — and
            # even with canChangeCachedPlanOutputPartitioning=true it only
            # broke even with this read-back, which stays the replay frame.)
            delta = self._net_delta(pre_topk, self._topk_of(cand))

        def _write_emit() -> str:
            delta.write.mode("overwrite").parquet(epath)
            return epath

        targets = ((cand, f"cand_v{v}", self._cand_map), (bound, f"bound_v{v}", self._bound_map))
        thunks = [lambda df=df, name=name: _write_shards(df, name) for df, name, _ in targets]
        if pre_topk is not None:
            thunks.append(_write_emit)
        paths = _run_parallel(thunks)[:2]
        for path, (_, _, mp) in zip(paths, targets):
            present = {
                d.split("=", 1)[1]
                for d in os.listdir(path)
                if d.startswith(f"{BUCKET}=")
            }
            for b in touched:
                sb = str(b)
                if sb in present:
                    mp[sb] = os.path.join(path, f"{BUCKET}={sb}")
                else:
                    mp.pop(sb, None)
        if pre_topk is None:
            return None
        # the live return is the replay frame itself — the read-back of the
        # emit dir just written, no in-memory handoff
        self._emitted = epath
        return self.emitted_df()

    # --- maintenance ---------------------------------------------------------
    def _gates(self, bound0: DataFrame, counts: DataFrame) -> set[str]:
        """Which maintenance branches this batch needs: ``"d"`` when some
        trimmed group drained below k candidates, ``"o"`` when some group
        holds more than k+2·slack.

        ONE bounded probe job per batch (optimization round r11): at steady
        state most batches drain and overflow NOTHING, yet the refill
        branch used to read the whole ENGINE aggregate state every batch
        (the drained-restricted semi-join restricts rows, not the scan) and
        the trim branch bloated every write plan with a second rank. An
        existence flag per gate set (both derive from the already-
        checkpointed candidate set of the TOUCHED shards — a small bounded
        read) lets an empty gate skip its branch outright: the anti-join
        against an empty set and the union with an empty refill are exact
        identities, so the skipped plan computes the same state. Both flags
        come from ONE aggregate job over the per-group counts (a
        union-of-limit(1) probe ran executeTake's incremental job cascade —
        ~7 scheduled jobs where this needs one): per group there is at most
        one boundary row and one counts row, so after a full outer join
        "drained" is a bounded group missing a count >= k and "over" is any
        count past k+2*slack — the same sets the gate branches consume."""
        gate = (
            bound0.select(*self.group_cols)
            .withColumn("_hb", F.lit(1))
            .join(counts, on=list(self.group_cols), how="full_outer")
            .agg(
                F.max(
                    F.when(
                        F.col("_hb").isNotNull()
                        & (F.col("_n").isNull() | (F.col("_n") < self.k)),
                        1,
                    )
                ).alias("_d"),
                F.max(
                    F.when(F.col("_n") > self.k + 2 * self.slack, 1)
                ).alias("_o"),
            )
            .first()
        )
        return {flag for flag, v in (("d", gate["_d"]), ("o", gate["_o"])) if v}

    def apply(self, changelog: DataFrame | None) -> DataFrame | None:
        """Fold one batch's emit_delta changelog into the sharded candidate
        state. Only the shards the changelog's groups hash into are read and
        rewritten.

        With ``emit=True`` returns the PER-GROUP TOP-K view's own netted
        ±changelog for this batch (entries/exits/value-updates across the
        touched groups), read back from a dir ``state()`` names — so after
        a resume ``emitted_df()`` hands a replayed batch the SAME rows (the
        exactly-once sink contract)."""
        if changelog is None:
            return None
        self._pin_schemas(changelog.drop(WEIGHT))
        gk = [*self.group_cols, *self.key_cols]
        # the batch's shard footprint: ≤ ``BUCKETS`` ints to the driver
        shard = _bucket_expr(self.group_cols, self.BUCKETS).alias("_b")
        tb = sorted(r["_b"] for r in changelog.select(shard).distinct().collect())
        self.last_touched_buckets = len(tb)
        # reset BEFORE the no-touched-buckets early return: a no-touch batch
        # must report 0 candidate rows read, not the previous batch's count
        # (instrumented harnesses sum this per batch)
        self.last_read_rows = 0
        if not tb:
            return self._commit(
                self._empty(self._schema),
                self._empty(self._bschema),
                [],
                pre_topk=self._empty(self._schema) if self.emit else None,
            )
        cand0 = self._read_cand(tb)
        pre_topk = self._topk_of(cand0) if self.emit else None
        bound0 = self._read_bound(tb)
        if self.instrument:
            # metadata-only counts of the shards this batch will read
            self.last_read_rows = cand0.count()
        neg = changelog.filter(F.col(WEIGHT) < 0).select(*gk)
        pos = self._non_null(changelog.filter(F.col(WEIGHT) > 0)).drop(WEIGHT)
        cand = cand0.join(neg, on=gk, how="left_anti")
        # boundary absent (_bv0 NULL after the left join) admits
        # unconditionally: the group's candidates are complete
        admitted = (
            pos.join(bound0, on=list(self.group_cols), how="left")
            .filter(
                F.col("_bv0").isNull()
                | self._at_or_before(
                    [F.col(f"_bv{i}") for i in range(len(self.order_cols))],
                    [F.col(f"_bk{i}") for i in range(len(self.key_cols))],
                )
            )
            .select(*cand0.columns)
        )
        # UPSERT, not multiset union: under the engine's crash-replay
        # changelog redelivery a +post row with no matching −pre (new group)
        # can be re-applied to the same instance — anti-joining admitted
        # keys out first makes re-admission replace, never duplicate
        # (mirrors TopKView's dict-keyed buffer semantics)
        cand = cand.join(admitted.select(*gk), on=gk, how="left_anti").unionByName(
            admitted
        )
        # the post-admission candidate set feeds counts (→ drained, over),
        # the trim branches, AND the state write — a LAZY localCheckpoint
        # materializes it once on first use instead of re-executing the
        # retraction/upsert joins per consumer (the engine's own
        # acc.localCheckpoint trick, round 6); lazy so an all-empty batch
        # never pays an extra job
        cand = cand.localCheckpoint(eager=False)

        counts = cand.groupBy(*self.group_cols).agg(F.count("*").alias("_n"))
        # drained: trimmed groups (have a boundary) no longer holding k
        # candidates — including groups whose candidates vanished entirely
        # (no counts row at all). Only touched shards can drain.
        drained = bound0.select(*self.group_cols).join(
            counts.filter(F.col("_n") >= self.k),
            on=list(self.group_cols),
            how="left_anti",
        )
        # trim groups past k+2*slack back to k+slack (disjoint from drained:
        # these hold > k rows under the same pre-refill counts)
        over = counts.filter(F.col("_n") > self.k + 2 * self.slack).select(
            *self.group_cols
        )
        hit = self._gates(bound0, counts)
        if "d" in hit:
            fresh = self._non_null(self._refill_fn(drained))
            # the refill reads ENGINE state (drained-restricted semi-joins)
            # and feeds both the candidate and the boundary writes —
            # checkpoint it lazily so the state read runs once per batch,
            # not per consumer
            ranked_fresh = self._rank(fresh).localCheckpoint(eager=False)
            cand = (
                cand.join(drained, on=list(self.group_cols), how="left_anti")
                .unionByName(
                    ranked_fresh.filter(F.col("_rn") <= self.k + self.slack)
                    .drop("_rn")
                    .select(*cand0.columns)
                )
            )
            bound = bound0.join(
                drained, on=list(self.group_cols), how="left_anti"
            ).unionByName(self._bound_of(ranked_fresh))
        else:
            bound = bound0
        if "o" in hit:
            ranked_over = self._rank(
                cand.join(over, on=list(self.group_cols), how="left_semi")
            )
            cand = (
                cand.join(over, on=list(self.group_cols), how="left_anti")
                .unionByName(
                    ranked_over.filter(F.col("_rn") <= self.k + self.slack).drop("_rn")
                )
            )
            bound = bound.join(
                over, on=list(self.group_cols), how="left_anti"
            ).unionByName(self._bound_of(ranked_over))
        if self.instrument:
            # captured BEFORE the gate-branch checkpoint below, so the
            # recorded plan shows the maintenance joins, not a block scan
            self.last_plan = cand._jdf.queryExecution().explainString(
                self._spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        if hit:
            # the gate-branch result is a NEW lazy plan over the checkpointed
            # base (refill/trim joins, and on drains the refill's whole
            # engine-state read) consumed by all three parallel write threads
            # in _commit — without materialization each thread re-executes it
            # (the lazy ranked_fresh/ranked_over checkpoints race instead of
            # sharing on concurrent first use). ONE eager checkpoint here
            # runs the branch once; steady-state no-hit batches keep the
            # already-checkpointed candidate frame and pay nothing (r12).
            cand = cand.localCheckpoint()
        return self._commit(cand, bound, tb, pre_topk=pre_topk)

    # --- emission ------------------------------------------------------------
    def emitted_df(self) -> DataFrame | None:
        """The last batch's emitted per-group top-k changelog (``emit=True``),
        read from the dir ``state()`` names — so after a resume a
        crash-replayed batch hands a downstream sink the SAME rows. The
        schema is pinned (candidate columns plus the int ``weight``
        ``_net_delta`` writes), which spares parquet schema inference."""
        if not self.emit or self._emitted is None:
            return None
        return self._spark.read.schema(self._emitted_schema()).parquet(self._emitted)

    def result(self) -> DataFrame:
        """Exact per-group top-k: rank candidates only — never the view."""
        if self._schema is None:
            raise ValueError("no batch applied yet")
        return self._rank(self._read_cand()).filter(F.col("_rn") <= self.k).drop("_rn")
