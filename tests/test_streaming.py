"""Streaming-specific properties beyond the oracle gate.

1. The golden hand-traceable changelog from FIXTURES.md §2 (reference input
   format, reference 1993 date window, intended retraction semantics).
2. The Cquirrel prefix-invariance property (SURVEY.md §5.2): after EVERY
   micro-batch prefix, the maintained state equals a from-scratch recompute
   over that prefix's net rows — the test whose absence let reference bugs
   B1-B3 go unnoticed.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from flink_and_acyclic_schema_spark.functions.numeric import dec
from flink_and_acyclic_schema_spark.sources.changelog_source import (
    generate_changelog_files,
    parse_changelog,
)
from flink_and_acyclic_schema_spark.streaming.incremental import GROUP_COLS, IncrementalQ10

from .conftest import SF_SMOKE

GOLDEN = [
    "AddNATI|7|GERMANY|3|xx",
    "AddCUST|13|Customer#000000013|addr|7|30-749-445-4907|3857.34|BUILDING|note",
    "AddORDE|500|13|F|100.0|1993-11-15|1-URGENT",
    "AddLINE|500|77|5|1|10|1000.00|0.10|0.02|R",
    "AddLINE|500|78|5|2|10|500.00|0.00|0.02|R",
    "AddLINE|500|79|5|3|10|400.00|0.00|0.02|N",
    "SubLINE|500|78|5|2|10|500.00|0.00|0.02|R",
    "AddORDE|501|13|F|100.0|1995-01-01|1-URGENT",
    "AddLINE|501|80|5|1|10|999.00|0.00|0.02|R",
]


def test_golden_changelog(spark, tmp_path):
    """FIXTURES.md §2 golden fixture: final revenue must be exactly 900.00 —
    the answer the reference's broken retraction path never produces (§8 B1-B3)."""
    ivm = IncrementalQ10(spark, str(tmp_path / "state"), lo="1993-10-01", hi="1994-01-01")
    lines = spark.createDataFrame([(line,) for line in GOLDEN], ["value"])
    ivm.process_batch(lines)
    rows = ivm.result().collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.c_custkey == 13 and r.n_name == "GERMANY"
    assert r.revenue == pytest.approx(900.0, abs=1e-9)


def _recompute_prefix(spark, files):
    """From-scratch weighted Q10 over the net rows of a line-file prefix."""
    lines = spark.read.text(files)
    t = parse_changelog(lines)
    li = t["lineitem"].filter(F.col("l_returnflag") == "R").withColumnRenamed("weight", "w_l")
    o = (
        t["orders"]
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-10-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp_ntz"))
        )
        .withColumnRenamed("weight", "w_o")
    )
    c = t["customer"].withColumnRenamed("weight", "w_c")
    n = t["nation"].withColumnRenamed("weight", "w_n")
    j = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .withColumn("w", F.col("w_l") * F.col("w_o") * F.col("w_c") * F.col("w_n"))
    )
    return (
        j.groupBy(*GROUP_COLS)
        .agg(
            F.sum(F.col("w") * dec("l_extendedprice") * dec(F.lit(1.0) - F.col("l_discount")))
            .cast("double")
            .alias("revenue"),
            F.sum("w").alias("support"),
        )
        .filter(F.col("support") > 0)
        .drop("support")
    )


def _snapshot(df):
    return sorted(
        (r.c_custkey, r.c_name, round(r.c_acctbal, 6), r.n_name, round(r.revenue, 6))
        for r in df.collect()
    )


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Restart-from-checkpoint: run the stream over batch 1, STOP, add batch 2,
    restart with the SAME checkpoint — the file-source checkpoint must skip the
    already-consumed file and the stateful dedup state must survive, so the
    final result equals one continuous run (exactly-once across restarts; the
    durability story the reference lacks entirely — no checkpointing is
    configured anywhere in DataFlow.java)."""
    import shutil

    from pyspark.sql import functions as F

    from flink_and_acyclic_schema_spark.tables import load

    indir = tmp_path / "in"
    indir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    ev = load(spark, SF_SMOKE, "events").select("event_id", "user_id", "value")

    def write_file(i, pred):
        d = str(tmp_path / f"w{i}")
        ev.filter(pred).coalesce(1).write.mode("overwrite").parquet(d)
        (part,) = glob.glob(os.path.join(d, "part-*.parquet"))
        shutil.copy(part, str(indir / f"b{i}.parquet"))

    def run_once():
        raw = spark.readStream.schema("event_id BIGINT, user_id BIGINT, value DOUBLE").parquet(
            str(indir)
        )
        q = (
            raw.dropDuplicates(["event_id"])
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, bid: df.write.mode("append").parquet(out))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: only even events exist; run 2: odd events added AND even file
    # re-present (dedup state + source checkpoint must both hold)
    write_file(0, F.col("event_id") % 2 == 0)
    run_once()
    write_file(1, F.col("event_id") % 2 == 1)
    run_once()

    got = spark.read.parquet(out)
    assert got.count() == ev.count(), "restart lost or duplicated rows"
    assert got.select("event_id").distinct().count() == ev.count()


def test_ivm_prefix_invariance(spark, tmp_path):
    """After every micro-batch, incremental state == batch recompute of the
    prefix (order-independence of the weight algebra, deletes before inserts
    included — chunk hashing guarantees cross-batch delete/insert splits)."""
    changelog_dir = generate_changelog_files(
        spark, SF_SMOKE, str(tmp_path / "changelog"), n_chunks=3
    )
    files = sorted(glob.glob(os.path.join(changelog_dir, "chunk*.txt")))
    assert len(files) == 3
    ivm = IncrementalQ10(spark, str(tmp_path / "state"))
    for i, f in enumerate(files):
        ivm.process_batch(spark.read.text(f))
        got = _snapshot(ivm.result())
        want = _snapshot(_recompute_prefix(spark, files[: i + 1]))
        assert got == want, f"prefix {i + 1}: IVM state diverged from recompute"


def test_alive_join_interleavings():
    """The alive-gated join state machine must be exact under the orderings
    that broke the reference (SURVEY.md §8 B1/B2): delete-before-insert,
    duplicate children, parent death with buffered children."""
    import pandas as pd

    from flink_and_acyclic_schema_spark.streaming.alive_join import update_alive_join

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self.exists, self._v = True, v

    def run_batches(batches):
        st = FakeState()
        totals: dict = {}
        for rows in batches:
            pdf = pd.DataFrame(rows, columns=["side", "child_id", "attr", "weight"])
            for out in update_alive_join((7,), iter([pdf]), st):
                for _, r in out.iterrows():
                    k = (int(r["key"]), int(r["child_id"]))
                    totals[k] = totals.get(k, 0) + int(r["delta"])
        return {k: v for k, v in totals.items() if v != 0}

    # parent delete arrives BEFORE its insert; child buffered throughout:
    # net parent weight 0 -> no surviving join rows
    assert run_batches(
        [
            [("C", 1, None, 1)],
            [("P", None, 42, -1)],
            [("P", None, 42, 1)],
        ]
    ) == {}

    # duplicate child (+2) under an alive parent, then parent dies -> empty
    assert run_batches(
        [
            [("P", None, 42, 1), ("C", 1, None, 1), ("C", 1, None, 1)],
            [("P", None, 42, -1)],
        ]
    ) == {}

    # parent alive after everything: buffered children re-emitted (Alive
    # cascade, ref Q10CustomerProcessFunction.java:68-75) with multiset weights
    assert run_batches(
        [
            [("C", 1, None, 1), ("C", 1, None, 1), ("C", 2, None, 1)],
            [("C", 2, None, -1)],
            [("P", None, 42, 1)],
        ]
    ) == {(7, 1): 2}

    # mixed parent+child deltas in ONE batch: formula must not double-count
    assert run_batches(
        [
            [("P", None, 42, 1), ("C", 1, None, 1)],
            [("P", None, 42, -1), ("C", 1, None, 1), ("C", 2, None, 1)],
            [("P", None, 42, 1)],
        ]
    ) == {(7, 1): 2, (7, 2): 1}


def test_stream_join_window_agg_watermark_boundary(spark, tmp_path):
    """Pin the append-mode cutoff rule the stream_join_window_agg oracle
    encodes (HAVING win_end < min(max p_ts, max c_ts) - 1h - 30min) with
    synthetic events straddling the final watermark: window A ends strictly
    before the cutoff, window B ends exactly ON it, window C ends after it.
    Measured behavior this test pins: (1) the interval join's 30-minute
    event-time range DELAYS the watermark reaching the downstream window agg
    (Spark's multi-stateful-operator watermark propagation) — a 1h-only model
    emits windows Spark still holds; (2) the == boundary window is NOT
    emitted (strict <). At real SF the cutoff branch is unexercised, so this
    is the only test that can catch a model error here."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_and_acyclic_schema_spark.registry import ORACLES, QUERIES

    t0 = pd.Timestamp("2024-01-01 00:00:00")

    def ev(eid, minutes, etype):
        return (eid, t0 + pd.Timedelta(minutes=minutes), 1, etype, 1.0, "{}")

    rows = [
        # window A [00:00, 00:15): ends well before the cutoff -> emitted
        ev(1, 0, "click"),
        ev(2, 5, "purchase"),
        # window B [00:15, 00:30): win_end 00:30 == final cutoff exactly
        ev(3, 16, "click"),
        ev(4, 20, "purchase"),
        # window C [02:00, 02:15): ends after the cutoff -> held in state
        ev(5, 120, "click"),
        ev(6, 120, "purchase"),  # max ts 02:00 -> cutoff 02:00 - 1h - 30m = 00:30
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    # match the real testdata's physical type (TIMESTAMP NANOS), which load()
    # reads via the nanosAsLong legacy path
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    pq.write_table(table, str(tmp_path / "events.parquet"), version="2.6",
                   coerce_timestamps=None)

    got = {
        (r["win_start"], r["n_pairs"])
        for r in QUERIES["stream_join_window_agg"](spark, str(tmp_path)).collect()
    }

    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'"
    )
    want = {
        (r[0], r[1]) for r in con.execute(ORACLES["stream_join_window_agg"]).fetchall()
    }
    assert got == want, f"spark={sorted(got)} oracle={sorted(want)}"
    # window A must be out in both engines; C must not
    starts = {s for s, _ in got}
    assert t0 in starts, "window ending before the watermark was not emitted"
    assert t0 + pd.Timedelta(minutes=120) not in starts, "open window leaked"


def test_stream_window_rollup_chain_watermark_boundary(spark, tmp_path):
    """Pin the chained-window-agg cutoff (HAVING win_end <= max ts - 1h - 15min)
    with events straddling it: hour A ends before the cutoff, hour B ends
    exactly ON it, hour C after. Measured: the 15-min pre-aggregate delays the
    downstream watermark by its window size, and the == boundary window IS
    emitted (inclusive <=) — the OPPOSITE boundary from the interval-join
    chain pinned by test_stream_join_window_agg_watermark_boundary, which is
    exactly why each chain shape gets its own synthetic probe."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_and_acyclic_schema_spark.registry import ORACLES, QUERIES

    t0 = pd.Timestamp("2024-01-01 00:00:00")

    def ev(eid, minutes, etype, val):
        return (eid, t0 + pd.Timedelta(minutes=minutes), 1, etype, val, "{}")

    rows = [
        # hour A [00:00, 01:00): two 15-min buckets -> emitted
        ev(1, 5, "click", 1.0),
        ev(2, 20, "click", 2.0),
        # hour B [01:00, 02:00): win_end 02:00 == cutoff exactly
        ev(3, 70, "click", 4.0),
        # hour C and the max event: 03:15 -> cutoff = 03:15 - 1h - 15m = 02:00
        ev(4, 195, "click", 8.0),
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    pq.write_table(table, str(tmp_path / "events.parquet"), version="2.6",
                   coerce_timestamps=None)

    got = {
        (r["win_start"], r["n_events"], r["n_buckets"])
        for r in QUERIES["stream_window_rollup_chain"](spark, str(tmp_path)).collect()
    }

    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")
    want = {
        (r[0], r[2], r[4])
        for r in con.execute(ORACLES["stream_window_rollup_chain"]).fetchall()
    }
    assert got == want, f"spark={sorted(got)} oracle={sorted(want)}"
    starts = {s for s, _, _ in got}
    assert t0 in starts, "hour ending before the cutoff was not emitted"
    assert t0 + pd.Timedelta(hours=3) not in starts, "open window leaked"
