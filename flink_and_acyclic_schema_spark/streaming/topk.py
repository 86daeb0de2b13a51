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
top-region churn, and the buffer itself is O(k) driver memory. Restart
recovery: the buffer, the boundary and the batch's emitted changelog live
INSIDE ``<state_dir>/MANIFEST.json`` (typed JSON, one atomic ``os.replace``
per commit — the O(k) operator-state snapshot at the batch barrier), and
``resume=True`` reattaches with no view scan and no Spark job, with
exactly-once replay semantics for downstream sinks (the buffer is also a
pure function of the live view, so one ``refill()`` against the engine's
committed state can always rebuild it). ``GroupedTopKView`` keeps its
O(groups) candidate state Spark-side in 8 fixed hash shards behind the same
manifest protocol.

Declaring ``AcyclicQuerySpec.top_k`` (TopKSpec, streaming/acyclic.py) wires
either view into the engine itself — construction, feeding, durability,
and crash-replay catch-up all handled at the spec level.

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


def _publish_manifest(manifest_path: str, data: dict, adopt=None, gc=None) -> None:
    """The ONE staged-commit protocol both views (and the engine) rely on,
    extracted so the replay-safety invariants live in a single place — the
    round-8 retry bugs each lived in a hand-maintained copy of this exact
    sequence:

    1. every data file the manifest references is FULLY WRITTEN before this
       is called (the caller's responsibility; TopKView's manifest holds
       its O(k) rows itself and references no file);
    2. the manifest is staged to ``.tmp`` and swapped in with one atomic
       ``os.replace`` — the commit point;
    3. only AFTER the replace does ``adopt()`` swap the staged values into
       the in-memory fields — a failure before step 2 therefore leaves the
       instance still resolving against the last committed state, so an
       in-process retry re-applies the batch instead of replay-skipping to
       a version the manifest never adopted;
    4. ``gc()`` removes superseded files LAST — a failure here (or in
       adopt) is post-adoption, i.e. crash-equivalent: resume re-reads the
       committed manifest and re-runs the GC.
    """
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(data, fh)
    os.replace(tmp, manifest_path)
    if adopt is not None:
        adopt()
    if gc is not None:
        gc()


def _dump_value(v) -> list:
    """JSON-safe (tag, value) encoding of one manifest value (a watermark, a
    top-k buffer cell). date/datetime/Decimal keep their exact type across
    the round-trip: fromisoformat would silently widen a date string to
    datetime, a naive timestamp stays naive, and a Decimal is not
    JSON-serializable raw. Any other non-JSON type raises ``TypeError`` —
    while the manifest is still being built, before its ``os.replace``."""
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
    the ascending unique-key tiebreak — as Spark expressions, and the
    fresh-or-resume attach to ``state_dir`` behind its ``MANIFEST.json``."""

    def __init__(self, k, order_col, key_cols, refill, state_dir, spark, slack):
        if k < 1:
            raise ValueError("k must be >= 1")
        self.k = k
        # multi-key ORDER BY (round 8): ((col, desc), ...) — ``order_col``
        # accepts a single name or a sequence of name/(name, dir) entries
        self.order_cols = _norm_order(order_col)
        self.key_cols = tuple(key_cols)
        self.slack = k if slack is None else slack
        self._refill_fn = refill
        self.state_dir = state_dir
        self._spark = spark
        self._schema = None  # StructType of view rows, pinned at first use
        self._version = 0
        self._last_batch: int | None = None

    def _attach(self, resume: bool) -> bool:
        """Reattach to the committed manifest (``resume`` and one exists) and
        return True; otherwise start ``state_dir`` empty and return False."""
        if resume and os.path.exists(self._manifest_path()):
            self._load_manifest()
            return True
        if os.path.exists(self.state_dir):
            shutil.rmtree(self.state_dir)
        os.makedirs(self.state_dir)
        return False

    def _manifest_path(self) -> str:
        return os.path.join(self.state_dir, "MANIFEST.json")

    def _replayed(self, batch_id: int | None) -> bool:
        """A crash-replayed batch: at or before the last committed one."""
        return (
            batch_id is not None
            and self._last_batch is not None
            and batch_id <= self._last_batch
        )

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
                     retraction drains the buffer below k, and at start when
                     ``prime``.
    ``state_dir``  — DURABILITY root: after every batch the buffer, the
                     boundary and the batch's emitted top-k changelog are
                     written INTO ``MANIFEST.json`` (rows as typed-JSON
                     lists in schema order) and published by one atomic
                     ``os.replace`` — the whole commit, O(k) rows, no Spark
                     job. ``resume=True`` reattaches with no refill, and a
                     crash-REPLAYED batch (``batch_id`` ≤ last committed)
                     is skipped, returning the PERSISTED changelog — the
                     exactly-once contract an emission sink composes with.
    ``spark``      — the session ``emitted_df`` builds its frame in.
    ``slack``      — extra buffered rows beyond k (default k): each refill
                     then survives at least ``slack`` top-region deletions.
    ``prime``      — whether to refill from the view at construction (the
                     engine primes when a resumed state dir has live state
                     but no top-k manifest). ``True`` (default) attaches to
                     an EXISTING view; ``False`` starts a FRESH stream: the
                     empty buffer with no boundary is exactly "complete over
                     the empty view", so the first batches build the buffer
                     from the changelog alone without ever scanning state.
                     Ignored when ``resume`` finds a committed manifest.
    """

    def __init__(
        self,
        k: int,
        order_col: str,
        key_cols: tuple[str, ...],
        refill: Callable[[], DataFrame],
        state_dir: str,
        spark,
        slack: int | None = None,
        prime: bool = True,
        resume: bool = False,
    ):
        super().__init__(k, order_col, key_cols, refill, state_dir, spark, slack)
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
        self._emitted_batch: int | None = None
        self._emitted_rows: list[dict] = []
        if self._attach(resume):
            return  # committed buffer restored — no refill, no re-prime
        if prime:
            self.refill()
        # commit an INITIAL manifest even before the first batch: an
        # unprimed fresh stream persists "empty buffer, no boundary" =
        # complete-over-empty, so a restart DURING batch 0 (engine
        # committed, top-k not yet) resumes here and the replayed
        # batch-0 changelog rebuilds the buffer AND emits the true
        # delta — where a manifest-less dir would re-prime from the
        # already-updated view and persist an EMPTY batch-0 delta, a
        # permanently lost first emission for an exactly-once sink.
        self._persist(None, None)

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

    # --- durability: the O(k) state inside one atomic manifest ---------------
    def _pin_schema(self, template: DataFrame) -> None:
        if self._schema is None:
            self._schema = template.schema

    def _persist(self, out: list[dict] | None, batch_id: int | None) -> None:
        """Commit the post-batch buffer/boundary (and the batch's emitted
        top-k changelog) as ONE manifest replace. Every value is encoded
        here, before ``_publish_manifest`` writes anything, so an
        unencodable value fails the commit pre-replace and ``apply`` rolls
        the fold back. The schema is stored once; rows are lists in its
        field order."""
        names = self._schema.fieldNames() if self._schema is not None else []
        emitted_batch = batch_id if out is not None and batch_id is not None else None
        emitted = out if emitted_batch is not None else []
        v = self._version + 1
        last_batch = batch_id if batch_id is not None else self._last_batch
        data = {
            "version": v,
            "last_batch": last_batch,
            "emitted_batch": emitted_batch,
            # None until the first refill/apply pins it (the pre-first-batch
            # initial commit): empty buffer, no boundary
            "schema": json.loads(self._schema.json())
            if self._schema is not None
            else None,
            "buffer": [[_dump_value(r[c]) for c in names] for r in self._buffer.values()],
            "boundary": None
            if self._boundary is None
            else [[_dump_value(x) for x in part] for part in self._boundary],
            "emitted": [[_dump_value(r[c]) for c in (*names, WEIGHT)] for r in emitted],
        }

        def adopt():
            # staged fields swap in only post-replace (_publish_manifest's
            # contract): a failed commit leaves self on the last committed
            # state, so an in-process retry re-applies the batch instead of
            # replay-skipping to an unadopted version
            self._version = v
            self._last_batch = last_batch
            self._emitted_batch = emitted_batch
            self._emitted_rows = emitted

        _publish_manifest(self._manifest_path(), data, adopt)

    def _load_manifest(self) -> None:
        from pyspark.sql.types import StructType

        with open(self._manifest_path()) as fh:
            data = json.load(fh)
        self._version = data["version"]
        self._last_batch = data["last_batch"]
        self._emitted_batch = data["emitted_batch"]
        if data["schema"] is None:
            # pre-first-batch initial commit: complete over the empty view
            return
        self._schema = StructType.fromJson(data["schema"])
        names = self._schema.fieldNames()

        def rows(lists, cols):
            return [dict(zip(cols, map(_load_value, r))) for r in lists]

        self._buffer = {self._key(r): r for r in rows(data["buffer"], names)}
        if data["boundary"] is not None:
            self._boundary = tuple(
                tuple(map(_load_value, part)) for part in data["boundary"]
            )
        self._emitted_rows = rows(data["emitted"], [*names, WEIGHT])

    def emitted_df(self) -> DataFrame | None:
        """The last committed batch's emitted top-k changelog as a DataFrame
        — the exactly-once feed for a downstream sink: a crash-replayed
        batch gets the SAME rows. Built from the manifest-held rows, so it
        launches no job."""
        if self._emitted_batch is None:
            return None
        schema = self._emitted_schema()
        return self._spark.createDataFrame(
            [tuple(r[c] for c in schema.fieldNames()) for r in self._emitted_rows],
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

        WITHOUT one (fresh prime=False stream, or a view small enough that
        the buffer is complete), a naive collect of the whole changelog is
        unbounded on a large first batch — instead:

        - retractions can only matter for buffered keys (boundary None ⇒
          the buffer holds EVERY live row, so any −pre row's key is
          buffered): filter to those ≤ k+2·slack keys Spark-side;
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
            # buffered-key membership: a per-key OR-chain of literal
            # conjunctions grows the Catalyst tree with k (TopKSpec caps
            # nothing) — a single-column key compiles to ONE In/InSet, a
            # composite key broadcast-semi-joins a tiny literal DataFrame
            neg = ch.filter(F.col(WEIGHT) < 0)
            if len(self.key_cols) == 1:
                (c,) = self.key_cols
                vals = [kt[0] for kt in self._buffer if kt[0] is not None]
                cond = F.col(c).isin(vals) if vals else F.lit(False)
                if len(vals) < len(self._buffer):  # a buffered NULL key
                    cond = cond | F.col(c).isNull()
                neg = neg.filter(cond)
            else:
                from functools import reduce

                from pyspark.sql.types import StructType

                by_name = {f.name: f for f in self._schema.fields}
                keys = self._spark.createDataFrame(
                    list(self._buffer.keys()),
                    StructType([by_name[c] for c in self.key_cols]),
                )
                neg = neg.join(
                    F.broadcast(keys),
                    on=reduce(
                        lambda a, b: a & b,
                        [neg[c].eqNullSafe(keys[c]) for c in self.key_cols],
                    ),
                    how="left_semi",
                )
            rows += [r.asDict() for r in neg.collect()]
        rows += [
            r.asDict()
            for r in ch.filter(F.col(WEIGHT) > 0)
            .orderBy(*self._sort_cols())
            .limit(self.k + 2 * self.slack + 1)
            .collect()
        ]
        return rows

    def apply(
        self, changelog: DataFrame | None, batch_id: int | None = None
    ) -> list[dict] | None:
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

        With ``batch_id``, a replayed batch (≤ last committed) is
        not re-applied — the PERSISTED changelog of that batch is returned
        instead (no Spark job), so a downstream sink's overwrite lands the
        same rows."""
        if changelog is None:
            return None
        if self._replayed(batch_id):
            if self._emitted_batch == batch_id:
                return [dict(r) for r in self._emitted_rows]
            return None
        self._pin_schema(changelog.drop(WEIGHT))
        # committed snapshot for commit-failure rollback: the
        # fold below mutates the buffer BEFORE _persist, so if the manifest
        # replace fails the in-memory state must return to the committed
        # batch — otherwise an in-process retry re-folds idempotently
        # (pre == post) and persists an EMPTY emitted delta, losing the
        # batch's emission for an exactly-once sink. O(k) rows to copy.
        # _version anchors the rollback to the commit point: _persist can
        # also raise AFTER the manifest os.replace adopted the new version
        # (a KeyboardInterrupt in the adopt tail) — in that window the
        # commit is real and restoring the pre-batch buffer would leave
        # memory one batch BEHIND the manifest, folding the next batch
        # against stale candidates. The per-batch transfer counters
        # (applied_rows*) snapshot too, so a retried batch doesn't
        # double-count the driver-transfer evidence the tools report.
        snap = (
            dict(self._buffer),
            self._boundary,
            self.refills,
            self.applied_rows,
            self.applied_rows_total,
            self._version,
        )
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
        try:
            self._persist(out, batch_id)
        except BaseException:
            # roll the fold back to the committed batch (see `snap`): a
            # retry then re-applies against committed state and emits
            # the true delta instead of an idempotent empty one. BUT
            # only while the commit was NOT adopted — _version moved ⇒
            # the manifest replace succeeded and the exception came from
            # the post-adoption tail; the fold must stand or memory falls
            # one batch behind the durable state.
            if self._version == snap[5]:
                (
                    self._buffer,
                    self._boundary,
                    self.refills,
                    self.applied_rows,
                    self.applied_rows_total,
                    _,
                ) = snap
            raise
        return out

    # --- emission ------------------------------------------------------------
    def result_rows(self) -> list[dict]:
        """The exact top-k under (order value, ascending key tiebreak)."""
        return self._ranked()[: self.k]


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
    carry forward in the manifest as-is — per-batch cost is O(Δ ⋈
    touched-bucket candidates), not O(all candidates), and candidates are
    themselves a (k+slack)/members reduction of the view. Emission ranks
    candidates per group — O(candidates), never O(view).

    DURABILITY (``state_dir``): candidate/boundary shards are versioned
    parquet directories published by an atomic manifest (os.replace), the
    same discipline as the engine's state — a crash or executor loss at ANY
    point leaves the last committed state readable, and ``resume=True``
    reattaches WITHOUT the O(view) ``prime()`` re-rank that the previous
    localCheckpoint (non-replicated storage) design forced. Replayed
    batches (``batch_id`` ≤ last committed) are skipped — idempotent under
    foreachBatch crash-replay redelivery.

    NULL order values never enter candidates (SQL NULLS LAST for a LIMIT
    the non-NULL rows satisfy). The structure is a pure function of the
    live view, so it can always be rebuilt from it with ``prime()``.
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
        resume: bool = False,
        emit: bool = False,
    ):
        # refill: Callable[[DataFrame | None], DataFrame] — the full view,
        # optionally restricted to the given group-key rows
        # (IncrementalAcyclicQuery.result's touched semantics)
        super().__init__(k, order_col, key_cols, refill, state_dir, spark, slack)
        if not group_cols or not key_cols:
            raise ValueError("group_cols and key_cols must be non-empty")
        if set(group_cols) & set(key_cols):
            raise ValueError("group_cols and key_cols must be disjoint")
        self.group_cols = tuple(group_cols)
        self._bschema = None  # StructType of boundary rows
        self._cand_map: dict[str, str] = {}  # bucket id -> live leaf dir
        self._bound_map: dict[str, str] = {}
        # emit=True: apply() additionally returns the PER-GROUP TOP-K view's
        # own netted ±changelog (entries/exits across touched groups) — the
        # same composition hook TopKView provides, Spark-side: two ranks
        # over the touched shards and an O(touched top-k) net. Persisted, so
        # replay redelivers the same rows (sink contract).
        self.emit = emit
        # {"batch": id, "path": parquet dir} of the last emitted top-k
        # delta — an explicit manifest-held path
        self._emitted: dict | None = None
        # observability: tools assert the touched-restriction cost model
        self.instrument = False
        self.last_touched_buckets = 0
        self.last_read_rows = 0
        self.last_plan = ""  # physical plan of the last batch's candidate rebuild
        if not self._attach(resume):
            # initial empty commit (see TopKView.__init__): a restart
            # during batch 0 must resume to "complete over the empty
            # view" and rebuild from the replayed changelog — not
            # re-prime from the already-updated view and emit an empty
            # first delta into an exactly-once sink
            self._write_manifest()

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

    # --- manifest (atomic commit point) --------------------------------------
    def _write_manifest(self, adopt=None, gc=None, **staged) -> None:
        """``staged`` overrides let ``_commit`` publish values it has NOT yet
        swapped into ``self`` — in-memory fields must only move to the new
        state after the os.replace succeeds, which is exactly
        ``_publish_manifest``'s adopt-after-replace contract (shared with
        TopKView._persist)."""
        data = {
            "version": self._version,
            "last_batch": self._last_batch,
            "cand": self._cand_map,
            "bound": self._bound_map,
            "emitted": self._emitted,
            "schema": json.loads(self._schema.json()) if self._schema else None,
            "bschema": json.loads(self._bschema.json()) if self._bschema else None,
        }
        data.update(staged)
        _publish_manifest(self._manifest_path(), data, adopt, gc)

    def _load_manifest(self) -> None:
        from pyspark.sql.types import StructType

        with open(self._manifest_path()) as fh:
            data = json.load(fh)
        self._version = data["version"]
        self._last_batch = data["last_batch"]
        self._cand_map = data["cand"]
        self._bound_map = data["bound"]
        self._emitted = data.get("emitted")
        if data["schema"] is not None:
            self._schema = StructType.fromJson(data["schema"])
            self._bschema = StructType.fromJson(data["bschema"])
        self._gc()  # partial writes of a crashed batch

    def _gc(self) -> None:
        live = {
            os.path.dirname(p)
            for p in (*self._cand_map.values(), *self._bound_map.values())
        }
        if self._emitted is not None:
            live.add(self._emitted["path"])
        for entry in os.listdir(self.state_dir):
            if not entry.startswith(("cand_v", "bound_v", "emit_v")):
                continue
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
        batch_id,
        pre_topk: DataFrame | None = None,
    ) -> DataFrame | None:
        """Publish the post-batch state of the TOUCHED shards; untouched
        shards' files carry forward untouched. Commit = versioned parquet
        writes, then ONE atomic manifest replace — every referenced path is
        fully written first, superseded dirs are GC'd after (two-phase, the
        engine's discipline). With ``emit`` (pre_topk given), the top-k
        view's netted ±changelog is computed from the post-batch candidate
        frame (no recompute of the candidate plan), persisted inside the
        same commit, and returned."""
        fields = [f.name for f in self._schema.fields]
        cand = cand.select(*fields)
        # version bumps BEFORE any write: if this commit fails mid-way, a
        # same-instance retry writes v+1 and can never overwrite a dir the
        # (still-committed) live maps reference. All map/emitted/last_batch
        # updates are STAGED into local copies and swapped into self only
        # after the manifest os.replace succeeds — until then every read
        # plan keeps resolving against the last committed state.
        v = self._version = self._version + 1
        n = max(len(touched), 1)
        cand_map = dict(self._cand_map)
        bound_map = dict(self._bound_map)
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
            # files, still on disk until the post-manifest GC.
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

        targets = ((cand, f"cand_v{v}", cand_map), (bound, f"bound_v{v}", bound_map))
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
        last_batch = batch_id if batch_id is not None else self._last_batch
        emitted = self._emitted
        if pre_topk is not None:
            emitted = {"batch": batch_id, "path": epath}
        def adopt():
            # committed: NOW swap the staged state in (_publish_manifest
            # runs this only after the os.replace succeeded)
            self._cand_map, self._bound_map = cand_map, bound_map
            self._last_batch, self._emitted = last_batch, emitted

        self._write_manifest(
            adopt=adopt,
            gc=self._gc,
            last_batch=last_batch,
            cand=cand_map,
            bound=bound_map,
            emitted=emitted,
        )
        if pre_topk is None:
            return None
        # the emitted dir is manifest-held (self._emitted after adopt), so
        # the GC above preserved it. The live return is the replay frame
        # itself — the read-back of the emit dir just written, no in-memory
        # handoff.
        return self.emitted_df()

    def prime(self) -> None:
        """(Re)build candidates from the full view — initial attach to an
        existing view. A restart resumes via ``resume=True`` instead (no
        view scan)."""
        view = self._refill_fn(None)
        self._pin_schemas(view)
        ranked = self._rank(self._non_null(view))
        self._commit(
            ranked.filter(F.col("_rn") <= self.k + self.slack).drop("_rn"),
            self._bound_of(ranked),
            list(range(self.BUCKETS)),
            None,
        )

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

    def apply(self, changelog: DataFrame | None, batch_id: int | None = None) -> None:
        """Fold one batch's emit_delta changelog into the sharded candidate
        state. Only the shards the changelog's groups hash into are read and
        rewritten. ``batch_id`` (optional) makes crash-replay redelivery a
        no-op once the manifest committed that batch.

        With ``emit=True`` returns the PER-GROUP TOP-K view's own netted
        ±changelog for this batch (entries/exits/value-updates across the
        touched groups) — persisted, so a replayed batch
        returns the SAME rows (the exactly-once sink contract)."""
        if changelog is None:
            return None
        if self._replayed(batch_id):
            if (
                self.emit
                and self._emitted is not None
                and self._emitted["batch"] == batch_id
            ):
                return self.emitted_df()
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
                batch_id,
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
        return self._commit(cand, bound, tb, batch_id, pre_topk=pre_topk)

    # --- emission ------------------------------------------------------------
    def emitted_df(self) -> DataFrame | None:
        """The last committed batch's emitted per-group top-k changelog
        (``emit=True``), read from the manifest-held path — so a
        crash-replayed batch hands a downstream sink the SAME rows. The
        schema is pinned (candidate columns plus the int ``weight``
        ``_net_delta`` writes), which spares parquet schema inference."""
        if not self.emit or self._emitted is None:
            return None
        return self._spark.read.schema(self._emitted_schema()).parquet(
            self._emitted["path"]
        )

    def result(self) -> DataFrame:
        """Exact per-group top-k: rank candidates only — never the view."""
        if self._schema is None:
            raise ValueError("no batch applied and not primed — call prime()")
        return self._rank(self._read_cand()).filter(F.col("_rn") <= self.k).drop("_rn")
