"""Structured Streaming plans (SURVEY.md §7 Phases 4-5).

Each entry runs a REAL streaming query (readStream file source, micro-batches,
checkpointing, availableNow trigger) to completion and returns the final state
as a batch DataFrame, so the driver's oracle comparison applies unchanged. The
flagship is ``incremental_q10_stream``: the reference's continuous Q10 over an
insert/delete changelog (its entire program) with the final maintained state
oracle-checked against a from-scratch SQL recompute over the net rows — the
Cquirrel prefix-correctness property as a hash equality.

Scratch state/checkpoints live under .scratch/ (gitignored).
"""

from __future__ import annotations

import itertools
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..schemas import SCHEMAS
from ..tables import events_ts_is_nanos, load

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SCRATCH = os.environ.get("SPARK_GRAFT_SCRATCH", os.path.join(_REPO_ROOT, ".scratch"))
_uniq = itertools.count()


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except OSError:
        return False
    return True


def _scratch(tag: str, sf_dir: str) -> str:
    sf = os.path.basename(sf_dir.rstrip("/"))
    # GC leftovers from DEAD processes first: every call creates a unique
    # dir (pid + counter) for checkpoint/source isolation, so without this
    # the scratch area grows without bound across driver rounds (observed:
    # >1000 dirs after two rounds). Own-pid dirs stay — their streams may
    # still be running.
    prefix = f"{tag}_{sf}_"
    try:
        for entry in os.listdir(SCRATCH):
            if not entry.startswith(prefix):
                continue
            parts = entry.rsplit("_", 2)
            if len(parts) == 3 and parts[1].isdigit() and not _pid_alive(int(parts[1])):
                shutil.rmtree(os.path.join(SCRATCH, entry), ignore_errors=True)
    except FileNotFoundError:
        pass
    d = os.path.join(SCRATCH, f"{tag}_{sf}_{os.getpid()}_{next(_uniq)}")
    if os.path.exists(d):
        shutil.rmtree(d)
    os.makedirs(d)
    return d


# --- flagship: incremental Q10 over a changelog stream -----------------------
def incremental_q10_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.changelog_source import generate_changelog_files
    from ..streaming.incremental import run_incremental_q10_stream

    scratch = _scratch("ivm_q10", sf_dir)
    changelog_dir = generate_changelog_files(
        spark, sf_dir, os.path.join(scratch, "changelog"), n_chunks=4
    )
    return run_incremental_q10_stream(spark, changelog_dir, scratch)


register(
    "incremental_q10_stream",
    incremental_q10_stream,
    # net-rows recompute: multiplicities mirror generate_changelog_files exactly
    """WITH li AS (
         SELECT *, 1 + (l_orderkey % 5 = 0)::INT - (l_orderkey % 7 = 0)::INT AS m
         FROM lineitem),
       o AS (
         SELECT *, 1 - (o_orderkey % 7 = 0)::INT AS m FROM orders)
       SELECT c_custkey, c_name, c_acctbal, n_name,
              sum(li.m * o.m * l_extendedprice::DECIMAL(12,4)
                  * (1 - l_discount)::DECIMAL(12,4))::DOUBLE AS revenue
       FROM li JOIN o ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
       WHERE l_returnflag = 'R'
         AND o_orderdate >= TIMESTAMP '1995-10-01'
         AND o_orderdate <  TIMESTAMP '1996-01-01'
       GROUP BY c_custkey, c_name, c_acctbal, n_name
       HAVING sum(li.m * o.m) > 0""",
)


# --- streaming events source -------------------------------------------------
def _events_stream(spark: SparkSession, sf_dir: str, scratch: str) -> DataFrame:
    """readStream over a scratch copy of events.parquet (the streaming file
    source wants a directory, not a bare file).

    Watermarks demand TimestampType (not NTZ), so the raw nanos become an
    absolute TIMESTAMP via timestamp_micros (tz-free epoch arithmetic); plans
    convert window bounds back to NTZ with ``_to_ntz`` so outputs never depend
    on the session timezone.
    """
    indir = os.path.join(scratch, "in")
    os.makedirs(indir, exist_ok=True)
    shutil.copy(os.path.join(sf_dir, "events.parquet"), os.path.join(indir, "events.parquet"))
    return _read_events_stream(spark, indir)


def _read_events_stream(spark: SparkSession, indir: str, max_files: int | None = None) -> DataFrame:
    """readStream over a directory of events parquet files, normalizing ``ts``
    to TimestampType whether the generator wrote TIMESTAMP(NANOS) (legacy
    nanos-as-long read + exact div) or MICROS (native read + exact epoch-micros
    re-base, never a session-tz-dependent cast)."""
    if events_ts_is_nanos(indir):
        schema = (
            "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, "
            "value DOUBLE, props STRING"
        )
        prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            reader = spark.readStream.schema(schema)
            if max_files is not None:
                reader = reader.option("maxFilesPerTrigger", max_files)
            raw = reader.parquet(indir)
        finally:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
        return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    schema = (
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, "
        "value DOUBLE, props STRING"
    )
    reader = spark.readStream.schema(schema)
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", max_files)
    raw = reader.parquet(indir)
    return raw.withColumn(
        "ts",
        F.expr(
            "timestamp_micros(timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts))"
        ),
    )


def _to_ntz(col: str):
    """TIMESTAMP -> TIMESTAMP_NTZ via epoch micros (session-tz independent)."""
    return F.expr(
        f"timestampadd(MICROSECOND, unix_micros({col}), TIMESTAMP_NTZ '1970-01-01 00:00:00')"
    )


def _events_max_ts(spark: SparkSession, sf_dir: str):
    """max(events.ts) from the parquet footer's row-group statistics — a
    metadata-only driver read (no Spark job, no data rows). Falls back to a
    1-row Spark aggregate only if some row group lacks ts statistics."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(os.path.join(sf_dir, "events.parquet")).metadata
    ts_idx = md.schema.to_arrow_schema().get_field_index("ts")
    maxes = []
    for rg in range(md.num_row_groups):
        stats = md.row_group(rg).column(ts_idx).statistics
        if stats is None or not stats.has_min_max:
            return load(spark, sf_dir, "events").agg(F.max("ts")).collect()[0][0]
        maxes.append(stats.max)
    return max(maxes)


def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked 5-minute tumbling aggregation as a real streaming query
    (complete mode, memory sink); final table equals the batch/oracle result."""
    ckpt = _scratch("tumbling", sf_dir)
    ev = _events_stream(spark, sf_dir, ckpt).withWatermark("ts", "10 minutes")
    agg = (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,4)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("win_start"), "event_type", "n_events", "sum_value")
        .withColumn("win_start", _to_ntz("win_start"))
    )
    name = f"tumbling_{os.getpid()}_{next(_uniq)}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(ckpt, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


register(
    "stream_tumbling_window",
    stream_tumbling_window,
    """SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS win_start, event_type,
              count(*) AS n_events, sum(value::DECIMAL(12,4))::DOUBLE AS sum_value
       FROM events GROUP BY 1, 2""",
)


def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked sliding-window aggregation (10-minute window, 5-minute
    slide): each event lands in two overlapping windows."""
    ckpt = _scratch("sliding", sf_dir)
    ev = _events_stream(spark, sf_dir, ckpt).withWatermark("ts", "10 minutes")
    agg = (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n_events")
        .withColumn("win_start", _to_ntz("win_start"))
    )
    name = f"sliding_{os.getpid()}_{next(_uniq)}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(ckpt, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


register(
    "stream_sliding_window",
    stream_sliding_window,
    """WITH w AS (
         SELECT unnest([time_bucket(INTERVAL 5 MINUTE, ts),
                        time_bucket(INTERVAL 5 MINUTE, ts) - INTERVAL 5 MINUTE])
                  AS win_start,
                event_type
         FROM events)
       SELECT win_start, event_type, count(*) AS n_events
       FROM w GROUP BY win_start, event_type""",
)


def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming session windows (10-minute gap) per user via
    session_window(); complete mode, memory sink."""
    scratch = _scratch("session", sf_dir)
    ev = _events_stream(spark, sf_dir, scratch).withWatermark("ts", "30 minutes")
    agg = (
        ev.groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,4)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
        .withColumn("session_start", _to_ntz("session_start"))
        .withColumn("session_end", _to_ntz("session_end"))
    )
    name = f"session_{os.getpid()}_{next(_uniq)}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


register(
    "stream_session_window",
    stream_session_window,
    # gaps-and-islands recompute; session_window end = last event + gap
    """WITH base AS (
         SELECT user_id, ts, value, event_id, epoch_us(ts) AS ep_us FROM events),
       marked AS (
         SELECT user_id, ts, value,
                CASE WHEN ep_us
                          - lag(ep_us) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                          >= 600000000 OR lag(ep_us) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                     THEN 1 ELSE 0 END AS new_session,
                event_id
         FROM base),
       sessions AS (
         SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
         FROM marked)
       SELECT user_id, min(ts) AS session_start,
              max(ts) + INTERVAL 10 MINUTE AS session_end,
              count(*) AS n_events,
              sum(value::DECIMAL(12,4))::DOUBLE AS sum_value
       FROM sessions GROUP BY user_id, sid""",
)


def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup: the events file is fed through the stream
    TWICE (two files, one per micro-batch); dropDuplicates state must suppress
    every second copy across batches. Final count per type equals the
    plain-distinct oracle."""
    scratch = _scratch("dedup", sf_dir)
    indir = os.path.join(scratch, "in")
    os.makedirs(indir)
    src = os.path.join(sf_dir, "events.parquet")
    shutil.copy(src, os.path.join(indir, "copy1.parquet"))
    shutil.copy(src, os.path.join(indir, "copy2.parquet"))

    raw = _read_events_stream(spark, indir, max_files=1)

    deduped = raw.dropDuplicates(["event_id"])
    out = os.path.join(scratch, "out")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out)

    q = (
        deduped.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out)
    return got.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))


register(
    "stream_dedup_watermark",
    stream_dedup_watermark,
    "SELECT event_type, count(*) AS n_events FROM events GROUP BY event_type",
)


def stream_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-driven late-data semantics, observed end to end and modeled
    exactly in the oracle. Events split into three micro-batches by
    event_id % 3 (maxFilesPerTrigger=1). Empirically pinned Spark rules (see
    tests; verified on 4.1): (1) the watermark effective while processing
    batch N is max(event time through batch N-2) - delay, so batch 2 runs
    under wm = max(batch-0 ts) - 10min and its rows in 5-minute windows with
    window.end <= wm are DROPPED; (2) append mode finally emits exactly the
    windows with window.end <= max(all ts) - 10min. Timestamps are truncated
    to whole minutes first so every comparison is exact in both engines."""
    scratch = _scratch("late", sf_dir)
    indir = os.path.join(scratch, "in")
    os.makedirs(indir)
    ev = load(spark, sf_dir, "events").withColumn(
        "ts", F.date_trunc("minute", F.col("ts")).cast("timestamp")
    )
    # three flat files -> three deterministic micro-batches (the file source
    # skips nested non-partition dirs; explicit increasing mtimes fix order)
    import glob as _glob
    import time as _time

    now = _time.time()
    for i in range(3):
        d = os.path.join(scratch, f"w{i}")
        ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode("overwrite").parquet(d)
        dst = os.path.join(indir, f"b{i}.parquet")
        shutil.copy(_glob.glob(os.path.join(d, "part-*.parquet"))[0], dst)
        os.utime(dst, (now + i, now + i))
    schema = (
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
        "value DOUBLE, props STRING"
    )
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(indir)
    )
    agg = (
        raw.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("win_start"), "n_events")
        .withColumn("win_start", _to_ntz("win_start"))
    )
    name = f"late_{os.getpid()}_{next(_uniq)}"
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


register(
    "stream_late_data_drop",
    stream_late_data_drop,
    """WITH ev AS (
         SELECT event_id, date_trunc('minute', ts) AS ts FROM events),
       wm AS (
         SELECT (SELECT max(ts) - INTERVAL 10 MINUTE FROM ev WHERE event_id % 3 = 0) AS wdrop,
                (SELECT max(ts) - INTERVAL 10 MINUTE FROM ev) AS wfinal),
       kept AS (
         SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS win_start
         FROM ev, wm
         WHERE event_id % 3 <> 2
            OR time_bucket(INTERVAL 5 MINUTE, ts) + INTERVAL 5 MINUTE > wm.wdrop)
       SELECT win_start, count(*) AS n_events
       FROM kept, wm
       GROUP BY win_start, wm.wfinal
       HAVING win_start + INTERVAL 5 MINUTE <= wm.wfinal""",
)


def stream_stateful_running_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom keyed state via applyInPandasWithState — the Spark-native
    replacement for the reference's hand-rolled keyed ProcessFunction state
    (``ValueState<Double>`` running sum, Q10AggregateProcessFunction.java:16-56).
    Per-user (n_events, sum_cents) accumulates across two micro-batches; each
    batch emits the updated totals and the LAST emission per user is the final
    state, which the oracle recomputes as a plain GROUP BY. Money is summed in
    integer cents inside the Arrow batches so the state is exact and
    order-independent."""
    scratch = _scratch("stateful", sf_dir)
    indir = os.path.join(scratch, "in")
    os.makedirs(indir)
    import glob as _glob
    import time as _time

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    now = _time.time()
    for i in range(2):
        d = os.path.join(scratch, f"w{i}")
        ev.filter(F.col("event_id") % 2 == i).coalesce(1).write.mode("overwrite").parquet(d)
        dst = os.path.join(indir, f"b{i}.parquet")
        shutil.copy(_glob.glob(os.path.join(d, "part-*.parquet"))[0], dst)
        os.utime(dst, (now + i, now + i))

    raw = (
        spark.readStream.schema("event_id BIGINT, user_id BIGINT, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(indir)
    )

    def update_user(key, pdf_iter, state):
        import numpy as np
        import pandas as pd

        n, s = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            s += int(np.floor(pdf["value"].to_numpy() * 100 + 0.5).astype("int64").sum())
        state.update((n, s))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "sum_cents": [s]})

    from pyspark.sql.streaming.state import GroupStateTimeout

    updated = raw.groupBy("user_id").applyInPandasWithState(
        update_user,
        outputStructType="user_id BIGINT, n_events BIGINT, sum_cents BIGINT",
        stateStructType="n BIGINT, s BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    out = os.path.join(scratch, "out")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(out)

    q = (
        updated.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out)
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("batch_id"))
    return (
        got.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", "n_events", "sum_cents")
    )


register(
    "stream_stateful_running_agg",
    stream_stateful_running_agg,
    """SELECT user_id, count(*)::BIGINT AS n_events,
              sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS sum_cents
       FROM events GROUP BY user_id""",
)


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with watermarks and a time-range condition —
    the direct Structured Streaming analog of the reference's two-input keyed
    joins (KeyedCoProcessFunction + Set-state buffering, e.g.
    Q10CustomerProcessFunction.java:16-115): each purchase joins the same
    user's clicks from the preceding 30 minutes. The watermark + range bound
    is what lets Spark expire join state — the alive-gating idea expressed as
    event-time bounds instead of alive counters."""
    scratch = _scratch("ssjoin", sf_dir)
    p = (
        _events_stream(spark, sf_dir, scratch)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    c = (
        _events_stream(spark, sf_dir, scratch)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    j = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "inner",
    ).select(
        "purchase_id",
        "click_id",
        "user_id",
        _to_ntz("p_ts").alias("purchase_ts"),
        _to_ntz("c_ts").alias("click_ts"),
    )
    name = f"ssjoin_{os.getpid()}_{next(_uniq)}"
    q = (
        j.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


register(
    "stream_stream_join",
    stream_stream_join,
    """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
              p.ts AS purchase_ts, c.ts AS click_ts
       FROM events p JOIN events c
         ON p.user_id = c.user_id
        AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
       WHERE p.event_type = 'purchase' AND c.event_type = 'click'""",
)


def stream_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join: unmatched purchases surface with NULL
    click columns once the click-side watermark passes their last possible
    match time. Empirically pinned rule (Spark 4.1, single-batch availableNow):
    the global watermark is min over BOTH sides of (side's max event time -
    1h) — each side's stats are computed on its FILTERED stream — and an
    unmatched left row is emitted iff p_ts < that watermark (no additional
    range-span subtraction). The oracle replays exactly that."""
    scratch = _scratch("ssouter", sf_dir)
    p = (
        _events_stream(spark, sf_dir, scratch)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    c = (
        _events_stream(spark, sf_dir, scratch)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    j = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "left_outer",
    ).select(
        "purchase_id",
        "user_id",
        _to_ntz("p_ts").alias("purchase_ts"),
        "click_id",
        _to_ntz("c_ts").alias("click_ts"),
    )
    name = f"ssouter_{os.getpid()}_{next(_uniq)}"
    q = (
        j.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


register(
    "stream_stream_outer_join",
    stream_stream_outer_join,
    """WITH matched AS (
         SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
                c.event_id AS click_id, c.ts AS click_ts
         FROM events p JOIN events c
           ON p.user_id = c.user_id
          AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
         WHERE p.event_type = 'purchase' AND c.event_type = 'click'),
       wm AS (SELECT least(
                (SELECT max(ts) FROM events WHERE event_type = 'purchase'),
                (SELECT max(ts) FROM events WHERE event_type = 'click'))
                - INTERVAL 60 MINUTE AS w)
       SELECT * FROM matched
       UNION ALL
       SELECT p.event_id, p.user_id, p.ts,
              NULL::BIGINT AS click_id, NULL::TIMESTAMP AS click_ts
       FROM events p, wm
       WHERE p.event_type = 'purchase'
         AND p.ts < wm.w
         AND NOT EXISTS (SELECT 1 FROM events c
                         WHERE c.event_type = 'click' AND c.user_id = p.user_id
                           AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts)""",
)


def _lineitem_changelog_ivm(
    spark: SparkSession, sf_dir: str, tag: str, project: tuple, **spec_kw
) -> DataFrame:
    """A one-relation ``AcyclicQuerySpec`` (``spec_kw``) maintained over the
    lineitem changelog: the text changelog streams in 3 micro-batches (file
    source, foreachBatch, availableNow), each batch's lineitem rows feed the
    engine under the stream's batch_id, and the maintained view is
    returned. ``project`` names the group and measure input columns — the
    only ones the relation state keeps, so it nets to one row per distinct
    value combination."""
    from ..sources.changelog_source import generate_changelog_files, parse_changelog
    from ..streaming.acyclic import AcyclicQuerySpec, IncrementalAcyclicQuery, RelSpec

    scratch = _scratch(tag, sf_dir)
    changelog_dir = generate_changelog_files(
        spark, sf_dir, os.path.join(scratch, "changelog"), n_chunks=3
    )
    spec = AcyclicQuerySpec(relations=(RelSpec("lineitem", project=project),), **spec_kw)
    ivm = IncrementalAcyclicQuery(spark, os.path.join(scratch, "state"), spec)

    def on_batch(lines: DataFrame, batch_id: int) -> None:
        ivm.process_batch({"lineitem": parse_changelog(lines)["lineitem"]}, batch_id)

    q = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .text(changelog_dir)
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return ivm.result()


def incremental_agg_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate IVM over the lineitem changelog: per l_returnflag,
    net row count and SUM(l_quantity) maintained under inserts AND deletes
    across micro-batches — the reference's aggregate operator generalized
    past Q10, with retraction done right. A one-relation spec on the generic
    acyclic engine (``n_rows`` is the measure ``1``, so it sums the net
    weights), with the engine's manifest, resume and replay skip."""
    from ..functions.numeric import dec

    return _lineitem_changelog_ivm(
        spark,
        sf_dir,
        "ivm_agg",
        ("l_returnflag", "l_quantity"),
        group_by=("l_returnflag",),
        measures={"sum_qty": lambda: dec("l_quantity"), "n_rows": lambda: F.lit(1)},
        finalize=lambda df: df.withColumn("sum_qty", F.col("sum_qty").cast("double")),
    )


register(
    "incremental_agg_stream",
    incremental_agg_stream,
    # net multiplicities mirror generate_changelog_files
    """SELECT l_returnflag,
              sum(m * l_quantity::DECIMAL(12,4))::DOUBLE AS sum_qty,
              sum(m)::BIGINT AS n_rows
       FROM (SELECT *,
                    1 + (l_orderkey % 5 = 0)::INT - (l_orderkey % 7 = 0)::INT AS m
             FROM lineitem)
       GROUP BY l_returnflag HAVING sum(m) <> 0""",
)


def incremental_q10_topk_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k maintenance (SURVEY.md §7 hard part H2): Q10's ORDER BY
    revenue DESC LIMIT 20 re-ranked from the maintained aggregate state after
    every micro-batch (the foreachBatch answer to update-mode sinks not
    supporting sorts). Returns the final batch's top-20.

    This is the exact-but-O(groups log k)-per-batch BASELINE of the pair; the
    scale path is ``incremental_q10_topk_buffer_stream``
    (plans/ivm_topk_ext.py): a bounded candidate buffer maintained from the
    emit_delta changelog, refilled from state only when retraction drains it
    below k — per-batch cost tracks top-region churn, not groups."""
    from ..sources.changelog_source import generate_changelog_files
    from ..streaming.incremental import IncrementalQ10

    scratch = _scratch("ivm_topk", sf_dir)
    changelog_dir = generate_changelog_files(
        spark, sf_dir, os.path.join(scratch, "changelog"), n_chunks=3
    )
    ivm = IncrementalQ10(spark, os.path.join(scratch, "state"))
    topk_dir = os.path.join(scratch, "topk")
    # foreachBatch runs on the driver: track the final batch id in the
    # closure instead of re-aggregating it from the sink afterwards — the
    # driver never reads data rows, only its own coordination counter
    last_batch = {"id": -1}

    def on_batch(lines: DataFrame, batch_id: int) -> None:
        ivm.process_batch(lines)
        # per-batch re-rank: the continuously-correct top-20 after this batch
        ivm.result().orderBy(F.desc("revenue"), F.asc("c_custkey")).limit(20).withColumn(
            "batch_id", F.lit(batch_id)
        ).write.mode("append").parquet(topk_dir)
        last_batch["id"] = max(last_batch["id"], batch_id)

    q = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .text(changelog_dir)
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    all_topk = spark.read.parquet(topk_dir)
    return all_topk.filter(F.col("batch_id") == last_batch["id"]).drop("batch_id")


register(
    "incremental_q10_topk_stream",
    incremental_q10_topk_stream,
    """WITH li AS (
         SELECT *, 1 + (l_orderkey % 5 = 0)::INT - (l_orderkey % 7 = 0)::INT AS m
         FROM lineitem),
       o AS (
         SELECT *, 1 - (o_orderkey % 7 = 0)::INT AS m FROM orders)
       SELECT c_custkey, c_name, c_acctbal, n_name,
              sum(li.m * o.m * l_extendedprice::DECIMAL(12,4)
                  * (1 - l_discount)::DECIMAL(12,4))::DOUBLE AS revenue
       FROM li JOIN o ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
       WHERE l_returnflag = 'R'
         AND o_orderdate >= TIMESTAMP '1995-10-01'
         AND o_orderdate <  TIMESTAMP '1996-01-01'
       GROUP BY c_custkey, c_name, c_acctbal, n_name
       HAVING sum(li.m * o.m) > 0
       ORDER BY revenue DESC, c_custkey LIMIT 20""",
)


def stream_alive_gated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's alive-gated incremental FK join (its core operator,
    Q10LineitemProcessFunction.java:16-124) as a real streaming query:
    orders (parent) ⋈ lineitem (child) on orderkey over the insert/delete
    changelog, maintained by one applyInPandasWithState state machine that
    emits exact join-result deltas per micro-batch. Parent deletes arriving
    in a *different* micro-batch than buffered children (chunk hashing
    guarantees some do) exercise the Dead-propagation path the reference
    got wrong (SURVEY.md §8 B1/B2). Final answer = net deltas, which the
    oracle recomputes as the join of the net inputs — prefix-closed
    correctness as a hash equality."""
    from ..sources.changelog_source import generate_changelog_files, parse_changelog
    from ..streaming.alive_join import alive_gated_join, tag_child, tag_parent

    scratch = _scratch("alive_join", sf_dir)
    changelog_dir = generate_changelog_files(
        spark, sf_dir, os.path.join(scratch, "changelog"), n_chunks=3
    )
    lines = (
        spark.readStream.format("text").option("maxFilesPerTrigger", 1).load(changelog_dir)
    )
    rels = parse_changelog(lines)
    tagged = tag_parent(rels["orders"], "o_orderkey", "o_custkey").unionByName(
        tag_child(rels["lineitem"], "l_orderkey", "l_linenumber")
    )
    deltas = alive_gated_join(tagged)

    out = os.path.join(scratch, "out")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out)

    q = (
        deltas.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(out)
        .groupBy(
            F.col("key").alias("l_orderkey"),
            F.col("child_id").cast("int").alias("l_linenumber"),
            F.col("attr").alias("o_custkey"),
        )
        .agg(F.sum("delta").cast("int").alias("net_w"))
        .filter(F.col("net_w") > 0)
    )


register(
    "stream_alive_gated_join",
    stream_alive_gated_join,
    # net-rows recompute mirroring generate_changelog_files multiplicities;
    # lineitem is grouped because the synthetic data has duplicate
    # (orderkey, linenumber) pairs — the operator's multiset state merges them
    """WITH li AS (
         SELECT l_orderkey, l_linenumber,
                sum(1 + (l_orderkey % 5 = 0)::INT - (l_orderkey % 7 = 0)::INT)::INT AS m
         FROM lineitem GROUP BY l_orderkey, l_linenumber),
       o AS (
         SELECT o_orderkey, o_custkey, 1 - (o_orderkey % 7 = 0)::INT AS m
         FROM orders)
       SELECT l_orderkey, l_linenumber, o_custkey, (li.m * o.m)::INT AS net_w
       FROM li JOIN o ON l_orderkey = o_orderkey
       WHERE li.m * o.m > 0""",
)


def stream_join_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful operators in one streaming query (Spark 3.4+/4
    multiple-stateful-operator support): watermarked interval join
    (purchase ⋈ clicks in the preceding 30 min) feeding a 15-minute tumbling
    aggregation, append mode end to end. The reference chains three stateful
    joins into a stateful aggregate exactly this way (DataFlow.java:45-57) —
    on one engine-managed watermark instead of hand-tagged Alive/Dead deltas.

    Watermark algebra pinned in the oracle (and by the synthetic boundary
    test in tests/test_streaming.py): with chained stateful operators Spark
    propagates a DELAYED watermark out of the interval join — the condition
    c_ts >= p_ts - 30 MINUTES means a p_ts row can match clicks up to 30
    minutes older, so the join's output watermark is input watermark - 30
    minutes. Append mode therefore finally emits exactly the windows with
    end STRICTLY BEFORE min(max p_ts, max c_ts) - 1h (watermark delay)
    - 30min (join range propagation); the == boundary window stays in state
    (measured, not assumed). Unexercised at sf<=0.01 — the last pair window
    closes before the cutoff — but the HAVING keeps the oracle honest at
    any SF."""
    scratch = _scratch("jwagg", sf_dir)
    indir = os.path.join(scratch, "in")
    os.makedirs(indir)
    ev = load(spark, sf_dir, "events").withColumn(
        "ts", F.date_trunc("minute", F.col("ts")).cast("timestamp")
    )
    import glob as _glob

    d = os.path.join(scratch, "w")
    ev.coalesce(1).write.mode("overwrite").parquet(d)
    shutil.copy(
        _glob.glob(os.path.join(d, "part-*.parquet"))[0],
        os.path.join(indir, "b0.parquet"),
    )
    schema = (
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
        "value DOUBLE, props STRING"
    )
    raw = spark.readStream.schema(schema).parquet(indir)
    p = (
        raw.filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("pid"), "user_id", F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    c = (
        raw.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("cid"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    j = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "inner",
    )
    agg = (
        j.groupBy(F.window("p_ts", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(F.col("w.start").alias("win_start"), "n_pairs")
        .withColumn("win_start", _to_ntz("win_start"))
    )
    name = f"jwagg_{os.getpid()}_{next(_uniq)}"
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


register(
    "stream_join_window_agg",
    stream_join_window_agg,
    """WITH ev AS (
         SELECT event_id, date_trunc('minute', ts) AS ts, user_id, event_type
         FROM events),
       wm AS (
         SELECT least((SELECT max(ts) FROM ev WHERE event_type = 'purchase'),
                      (SELECT max(ts) FROM ev WHERE event_type = 'click'))
                - INTERVAL 1 HOUR - INTERVAL 30 MINUTE AS wfinal),
       j AS (
         SELECT p.ts AS p_ts FROM ev p JOIN ev c
           ON p.user_id = c.user_id
          AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
         WHERE p.event_type = 'purchase' AND c.event_type = 'click')
       SELECT time_bucket(INTERVAL 15 MINUTE, p_ts) AS win_start,
              count(*) AS n_pairs
       FROM j, wm
       GROUP BY win_start, wm.wfinal
       HAVING win_start + INTERVAL 15 MINUTE < wm.wfinal""",
)


def stream_window_rollup_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO chained stateful window aggregations in one streaming query
    (Spark 3.4+ multiple-stateful-operator support, the window-of-window
    form): a 15-minute tumbling pre-aggregate feeding a 1-hour rollup via
    ``window(window_col)``, append mode end to end — the continuous-rollup /
    hypertable shape. At 100 TB the pre-aggregate is the point: the hourly
    operator sees 15-minute partials (4 rows/hour/type), not raw events, so
    the second shuffle is ~events/1000x smaller and partials are mergeable
    across restarts.

    Both stages sum in DECIMAL(12,4)->(22,4) (exact, associative) and cast to
    double only at the end, so re-aggregated sums are bit-identical to the
    oracle's one-shot grouping.

    Watermark algebra pinned by the synthetic boundary test in
    tests/test_streaming.py: the first window agg delays the downstream
    watermark by its window size (15 min), so with the 1-hour watermark the
    final append emission is exactly the 1-hour windows with
    end <= max(ts) - 1h - 15min — INCLUSIVE at the == boundary (measured;
    note the interval-join chain pins the opposite, strict, boundary)."""
    ckpt = _scratch("rollup_chain", sf_dir)
    ev = _events_stream(spark, sf_dir, ckpt).withWatermark("ts", "1 hour")
    w1 = ev.groupBy(F.window("ts", "15 minutes").alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n1"),
        F.sum(F.col("value").cast("decimal(12,4)")).alias("s1"),
    )
    w2 = (
        w1.groupBy(F.window(F.col("w"), "1 hour").alias("w2"), "event_type")
        .agg(
            F.sum("n1").alias("n_events"),
            F.sum("s1").cast("double").alias("sum_value"),
            F.count(F.lit(1)).alias("n_buckets"),
        )
        .select(
            F.col("w2.start").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
            "n_buckets",
        )
        .withColumn("win_start", _to_ntz("win_start"))
    )
    name = f"rollup_chain_{os.getpid()}_{next(_uniq)}"
    q = (
        w2.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(ckpt, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


register(
    "stream_window_rollup_chain",
    stream_window_rollup_chain,
    """WITH b1 AS (
         SELECT time_bucket(INTERVAL 15 MINUTE, ts) AS w15, event_type,
                count(*) AS n1, sum(value::DECIMAL(12,4)) AS s1
         FROM events GROUP BY 1, 2),
       wm AS (
         SELECT max(ts) - INTERVAL 1 HOUR - INTERVAL 15 MINUTE AS cutoff
         FROM events)
       SELECT time_bucket(INTERVAL 1 HOUR, w15) AS win_start, event_type,
              sum(n1)::BIGINT AS n_events, sum(s1)::DOUBLE AS sum_value,
              count(*) AS n_buckets
       FROM b1, wm GROUP BY win_start, event_type, cutoff
       HAVING win_start + INTERVAL 1 HOUR <= cutoff""",
)


# --- custom Python DataSource, streaming form --------------------------------
def source_python_datasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom Python DataSource read as a STREAM: the generator's
    streaming reader paces itself via offsets (2,500 rows per micro-batch
    over a 10,000-row range), each batch lands through foreachBatch with its
    batch id, and the final aggregate must equal the batch read — plus a
    multi_batch flag proving the run really executed several micro-batches
    (offset tracking + commit + checkpoint), not one collapsed pass.

    Scale story as the batch form (sources/pydatasource.py): the offset
    range maps to a sharded queue; partitions() fans each batch's range
    across executors."""
    from ..sources.pydatasource import register_synthetic_source

    register_synthetic_source(spark)
    scratch = _scratch("pysrc_stream", sf_dir)
    out = os.path.join(scratch, "out")
    sdf = (
        spark.readStream.format("synthetic_rows")
        .option("rows", "10000")
        .option("partitions", "4")
        .option("maxRowsPerBatch", "2500")
        .load()
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out)

    q = (
        sdf.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.read.parquet(out)
    multi = got.select(F.countDistinct("batch_id").alias("nb")).first()["nb"] >= 2
    return got.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        # integer-exact score sum: score = (k*KNUTH % 1000)/1000 by construction
        F.sum(F.round(F.col("score") * 1000).cast("bigint")).alias("sum_score_q"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
    ).withColumn("multi_batch", F.lit(bool(multi)))


register(
    "source_python_datasource_stream",
    source_python_datasource_stream,
    """SELECT (k % 7)::INT AS bucket, count(*)::BIGINT AS n,
              sum(k * 2654435761 % 1000)::BIGINT AS sum_score_q,
              min(k) AS min_id, max(k) AS max_id, true AS multi_batch
       FROM (SELECT unnest(range(0, 10000)) AS k)
       GROUP BY (k % 7)::INT""",
)


def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup: ``dropDuplicatesWithinWatermark`` holds
    a key's state only until the watermark passes its event time — the
    100 TB form of stream_dedup_watermark, whose plain ``dropDuplicates``
    state grows forever. The events file is fed twice (one micro-batch
    each); batch 2's replays are suppressed either as in-state duplicates
    (ts >= watermark) or as late data (ts < watermark), so the final count
    per type equals plain distinct — while state stays bounded by the
    10-minute delay instead of the corpus."""
    scratch = _scratch("dedup_ww", sf_dir)
    indir = os.path.join(scratch, "in")
    os.makedirs(indir)
    src = os.path.join(sf_dir, "events.parquet")
    shutil.copy(src, os.path.join(indir, "copy1.parquet"))
    shutil.copy(src, os.path.join(indir, "copy2.parquet"))

    raw = _read_events_stream(spark, indir, max_files=1)
    deduped = raw.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    out = os.path.join(scratch, "out")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out)

    q = (
        deduped.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out)
    return got.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))


register(
    "stream_dedup_within_watermark",
    stream_dedup_within_watermark,
    """SELECT event_type, count(DISTINCT event_id)::BIGINT AS n_events
       FROM events GROUP BY event_type""",
)


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the events stream joined per
    micro-batch against a STATIC customer dimension (the standard streaming
    enrichment shape — stateless, no watermark bookkeeping, the static side
    broadcast fresh each batch so slowly-changing dims re-resolve), then a
    running aggregate by the enriched key."""
    scratch = _scratch("enrich", sf_dir)
    ev = _events_stream(spark, sf_dir, scratch)
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    joined = ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
    agg = joined.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,4)")).cast("double").alias("sum_value"),
    )
    name = f"enrich_{os.getpid()}_{next(_uniq)}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


register(
    "stream_static_enrich",
    stream_static_enrich,
    """SELECT c_nationkey, count(*)::BIGINT AS n_events,
              sum(value::DECIMAL(12,4))::DOUBLE AS sum_value
       FROM events JOIN customer ON user_id = c_custkey
       GROUP BY c_nationkey""",
)


def stream_tumbling_update_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE output mode + upsert sink: the tumbling aggregation streams in
    two time-split micro-batches; update mode re-emits only windows changed
    by each batch, and the foreachBatch sink upserts them (latest batch_id
    wins per window key) — the changelog-consuming sink contract the
    reference's own output implies (SURVEY §1.3) that append mode can't
    express and complete mode makes O(result) per batch. The final upserted
    table must equal the from-scratch batch aggregate. The watermark delay
    is set beyond the data span so batch order can't drop either half as
    late — the lateness/eviction semantics have their own dedicated queries
    (stream_late_data_drop, stream_dedup_within_watermark)."""
    scratch = _scratch("upd_mode", sf_dir)
    indir = os.path.join(scratch, "in")
    os.makedirs(indir)
    ev_all = load(spark, sf_dir, "events").withColumn(
        "ts",
        F.expr(
            "timestamp_micros(timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts))"
        ),
    )
    cut = "1998-01-01 00:00:00"
    import glob as _glob
    import time as _time

    # explicit increasing mtimes (file-source orders by mod time) — a coarse
    # mtime filesystem would otherwise collapse both halves into one batch
    now = _time.time()
    halves = (F.col("ts") < cut, F.col("ts") >= cut)
    for i, pred in enumerate(halves):
        d = os.path.join(scratch, f"w{i}")
        ev_all.filter(pred).coalesce(1).write.mode("overwrite").parquet(d)
        dst = os.path.join(indir, f"b{i}.parquet")
        shutil.copy(_glob.glob(os.path.join(d, "part-*.parquet"))[0], dst)
        os.utime(dst, (now + i, now + i))

    schema = (
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
        "value DOUBLE, props STRING"
    )
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(indir)
    )
    agg = (
        raw.withWatermark("ts", "3000 days")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,4)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("win_start"), "event_type", "n_events", "sum_value")
    )
    out = os.path.join(scratch, "out")

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out)

    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(upsert)
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out)
    from pyspark.sql.window import Window as W

    latest = (
        got.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("win_start", "event_type").orderBy(F.desc("batch_id"))
            ),
        )
        .filter(F.col("rn") == 1)
    )
    return latest.select(
        _to_ntz("win_start").alias("win_start"), "event_type", "n_events", "sum_value"
    )


register(
    "stream_tumbling_update_mode",
    stream_tumbling_update_mode,
    """SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS win_start, event_type,
              count(*) AS n_events, sum(value::DECIMAL(12,4))::DOUBLE AS sum_value
       FROM events GROUP BY 1, 2""",
)


def incremental_count_distinct_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming COUNT(DISTINCT) with retraction across micro-batches: the
    two-level weight algebra of delta_count_distinct_incremental run as a
    REAL stream — the maintained state is the per-(group, value) net
    multiplicity (a one-relation spec on the acyclic engine grouped by
    group + value, support-only), updated O(batch) per micro-batch; the
    distinct count folds over alive values at read time. Values whose net
    multiplicity hits zero (the changelog's %7 deletes) retire from state
    and from the count — the duplicate-insert/delete interplay the
    reference's set state broke on."""
    return (
        _lineitem_changelog_ivm(
            spark,
            sf_dir,
            "ivm_cd",
            ("l_returnflag", "l_orderkey"),
            group_by=("l_returnflag", "l_orderkey"),
        )
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).cast("long").alias("n_distinct_orders"))
    )


register(
    "incremental_count_distinct_stream",
    incremental_count_distinct_stream,
    # net multiplicities mirror generate_changelog_files
    """SELECT l_returnflag, count(*)::BIGINT AS n_distinct_orders
       FROM (SELECT l_returnflag, l_orderkey,
                    sum(1 + (l_orderkey % 5 = 0)::INT
                          - (l_orderkey % 7 = 0)::INT) AS m
             FROM lineitem GROUP BY l_returnflag, l_orderkey)
       WHERE m > 0 GROUP BY l_returnflag""",
)


def stream_stream_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI stream-stream join: each purchase emitted at most once, as
    soon as ANY click by the same user lands in its preceding-30-minute
    window — the streaming existence test (fraud gates, consent checks)
    where the inner join's match multiplicity would double-count. Same
    watermark + range-bound state expiry as stream_stream_join; a semi
    match needs no eviction wait, so with one availableNow batch the result
    is exactly the EXISTS semantics the oracle states."""
    scratch = _scratch("sssemi", sf_dir)
    p = (
        _events_stream(spark, sf_dir, scratch)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
            F.col("value"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    c = (
        _events_stream(spark, sf_dir, scratch)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    j = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "left_semi",
    ).select(
        "purchase_id", "user_id", _to_ntz("p_ts").alias("purchase_ts"), "value"
    )
    name = f"sssemi_{os.getpid()}_{next(_uniq)}"
    q = (
        j.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


register(
    "stream_stream_semi_join",
    stream_stream_semi_join,
    """SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
              p.value
       FROM events p
       WHERE p.event_type = 'purchase'
         AND EXISTS (
           SELECT 1 FROM events c
           WHERE c.event_type = 'click' AND c.user_id = p.user_id
             AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts)""",
)


def q10_batch_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Cquirrel prefix-correctness property as a SELF-CHECKING query:
    run the REAL streaming incremental Q10 (file-source micro-batches,
    foreachBatch IVM state merge) AND an independent batch weight-algebra
    recompute over the same changelog multiplicities, full-outer-join the
    two result sets, and report group counts plus whether every group's
    revenue agrees EXACTLY (both paths sum in DECIMAL(12,4) before the
    double cast, so agreement is bit-exact, not approximate). This is the
    reference's entire reason to exist — continuous Q10 == from-scratch
    Q10 after any prefix — expressed as one verifiable result row."""
    stream = incremental_q10_stream(spark, sf_dir)

    li = load(spark, sf_dir, "lineitem").withColumn(
        "m",
        F.lit(1)
        + (F.col("l_orderkey") % 5 == 0).cast("int")
        - (F.col("l_orderkey") % 7 == 0).cast("int"),
    )
    o = load(spark, sf_dir, "orders").withColumn(
        "mo", F.lit(1) - (F.col("o_orderkey") % 7 == 0).cast("int")
    )
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    from ..functions.numeric import dec

    batch = (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            o.filter(
                (F.col("o_orderdate") >= F.lit("1995-10-01").cast("timestamp_ntz"))
                & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp_ntz"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.sum(
                F.col("m") * F.col("mo")
                * dec("l_extendedprice") * dec(F.lit(1.0) - F.col("l_discount"))
            ).cast("double").alias("revenue_b"),
            F.sum(F.col("m") * F.col("mo")).alias("support"),
        )
        .filter(F.col("support") > 0)
        .select("c_custkey", "revenue_b")
    )
    s = stream.select("c_custkey", F.col("revenue").alias("revenue_s"))
    j = batch.join(s, "c_custkey", "full_outer")
    return j.agg(
        F.count("revenue_b").cast("long").alias("n_batch_groups"),
        F.count("revenue_s").cast("long").alias("n_stream_groups"),
        F.count(
            F.when(F.col("revenue_b") == F.col("revenue_s"), 1)
        ).cast("long").alias("n_matching"),
        F.bool_and(
            F.col("revenue_b").isNotNull()
            & F.col("revenue_s").isNotNull()
            & (F.col("revenue_b") == F.col("revenue_s"))
        ).alias("all_match"),
    )


register(
    "q10_batch_stream_parity",
    q10_batch_stream_parity,
    # the oracle recomputes the group count once; parity itself must hold
    """WITH li AS (
         SELECT *, 1 + (l_orderkey % 5 = 0)::INT - (l_orderkey % 7 = 0)::INT AS m
         FROM lineitem),
       o AS (SELECT *, 1 - (o_orderkey % 7 = 0)::INT AS m FROM orders),
       g AS (
         SELECT c_custkey
         FROM li JOIN o ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE l_returnflag = 'R'
           AND o_orderdate >= TIMESTAMP '1995-10-01'
           AND o_orderdate <  TIMESTAMP '1996-01-01'
         GROUP BY c_custkey, c_name, c_acctbal,
                  (SELECT n_name FROM nation WHERE n_nationkey = c_nationkey)
         HAVING sum(li.m * o.m) > 0)
       SELECT count(*)::BIGINT AS n_batch_groups,
              count(*)::BIGINT AS n_stream_groups,
              count(*)::BIGINT AS n_matching,
              true AS all_match
       FROM g""",
)


# --- chained stateful operators: dedup -> windowed agg in ONE query ----------
def stream_chained_dedup_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO stateful operators chained inside one streaming query — exactly-once
    dedup state feeding a watermarked tumbling-window aggregate (the Spark
    3.5+/4 multi-stateful-operator capability; before it, this required two
    queries with an intermediate sink). The events file is fed through TWICE
    (two files, separate micro-batches), ``dropDuplicates`` suppresses the
    second copy, and the 5-minute windows downstream count each event once.

    Emission in append mode needs the watermark to pass each window's end, so
    a single sentinel event 1 day past the real data is appended as the last
    file: the final watermark closes every real window; the sentinel's own
    window stays open and is never emitted, keeping the oracle the plain
    batch recompute over the real events.

    At 100 TB the dedup state is hash-partitioned on event_id and the window
    state on (window, event_type) — two independent exchanges, both RocksDB-
    backed and watermark-evicted; nothing accumulates beyond the dedup
    horizon.
    """
    scratch = _scratch("chained", sf_dir)
    indir = os.path.join(scratch, "in")
    os.makedirs(indir)
    src = os.path.join(sf_dir, "events.parquet")
    shutil.copy(src, os.path.join(indir, "a_copy1.parquet"))
    shutil.copy(src, os.path.join(indir, "b_copy2.parquet"))
    max_ts = _events_max_ts(spark, sf_dir)
    # single-FILE parquet (pyarrow, not df.write which makes a directory the
    # non-recursive file-stream listing would never discover), typed exactly
    # like the source file so the stream schema applies unchanged
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    src_schema = pq.read_schema(src)
    sent_vals = {
        "event_id": [-1],
        "ts": [max_ts + datetime.timedelta(days=1)],
        "user_id": [-1],
        "event_type": ["__sentinel__"],
        "value": [0.0],
        "props": ["{}"],
    }
    pq.write_table(
        pa.Table.from_arrays(
            [
                pa.array(sent_vals[f.name]).cast(f.type)
                for f in src_schema
            ],
            schema=src_schema,
        ),
        os.path.join(indir, "z_sentinel.parquet"),
    )

    raw = _read_events_stream(spark, indir, max_files=1)
    deduped = raw.withWatermark("ts", "10 minutes").dropDuplicates(["event_id"])
    agg = (
        deduped.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,4)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("win_start"), "event_type", "n_events", "sum_value")
        .withColumn("win_start", _to_ntz("win_start"))
    )
    out = os.path.join(scratch, "out")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out)

    q = (
        agg.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out)


register(
    "stream_chained_dedup_window",
    stream_chained_dedup_window,
    """SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS win_start, event_type,
              count(*) AS n_events, sum(value::DECIMAL(12,4))::DOUBLE AS sum_value
       FROM events GROUP BY 1, 2""",
)


# --- RocksDB state store: the 100 TB state backend, exercised ----------------
def stream_rocksdb_state_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same watermarked tumbling aggregation as ``stream_tumbling_window``
    but with streaming state held in the RocksDB state store provider — the
    spill-to-disk backend that makes 100 TB streaming state viable (the
    default HDFS-backed provider keeps every key on the JVM heap, the exact
    unbounded-memory failure mode of the reference's on-heap ``Set`` state,
    Q10OrdersProcessFunction.java:20/28-30). Checkpoint contents prove the
    provider engaged: RocksDB uploads versioned ``.zip`` snapshots instead
    of the HDFS provider's ``.delta`` files.

    The provider class is a query-start-time setting; it is flipped for this
    query and restored afterwards so the rest of the suite keeps the
    default.
    """
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        ckpt = _scratch("rocksdb", sf_dir)
        ev = _events_stream(spark, sf_dir, ckpt).withWatermark("ts", "10 minutes")
        agg = (
            ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(12,4)")).cast("double").alias("sum_value"),
            )
            .select(
                F.col("w.start").alias("win_start"), "event_type", "n_events", "sum_value"
            )
            .withColumn("win_start", _to_ntz("win_start"))
        )
        name = f"rocksdb_{os.getpid()}_{next(_uniq)}"
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", os.path.join(ckpt, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # assert the RocksDB provider actually held the state: its checkpoint
        # layout is versioned zip snapshots (vs the HDFS provider's .delta)
        import glob

        zips = glob.glob(os.path.join(ckpt, "ckpt", "state", "**", "*.zip"), recursive=True)
        if not zips:
            raise RuntimeError("RocksDB state store did not engage (no snapshot zips)")
        return spark.table(name)
    finally:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


register(
    "stream_rocksdb_state_window",
    stream_rocksdb_state_window,
    """SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS win_start, event_type,
              count(*) AS n_events, sum(value::DECIMAL(12,4))::DOUBLE AS sum_value
       FROM events GROUP BY 1, 2""",
)


# --- streaming session windows with a per-event dynamic gap ------------------
def stream_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``window_session_dynamic_gap``: native
    ``session_window`` state where the inactivity gap is an EXPRESSION of
    the event (5 minutes for view/click browsing, 15 for
    purchase/signup/error flows). Session state merges the per-event
    intervals [ts, ts+gap) incrementally across micro-batches; complete
    mode + memory sink, final table oracle-checked against the batch
    sweep-line recompute — streaming/batch parity for the dynamic-gap
    operator.
    """
    scratch = _scratch("dynsession", sf_dir)
    ev = _events_stream(spark, sf_dir, scratch).withWatermark("ts", "30 minutes")
    gap = (
        F.when(F.col("event_type").isin("view", "click"), F.lit("5 minutes"))
        .otherwise(F.lit("15 minutes"))
    )
    agg = (
        ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,4)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "n_events",
            "sum_value",
        )
        .withColumn("win_start", _to_ntz("win_start"))
        .withColumn("win_end", _to_ntz("win_end"))
    )
    name = f"dynsession_{os.getpid()}_{next(_uniq)}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


register(
    "stream_session_dynamic_gap",
    stream_session_dynamic_gap,
    """WITH base AS (
         SELECT user_id, ts, event_id, value, epoch_us(ts) AS t,
                CASE WHEN event_type IN ('view', 'click')
                     THEN 300000000 ELSE 900000000 END AS gap_us
         FROM events),
       marked AS (
         SELECT *,
                CASE WHEN max(t + gap_us) OVER
                       (PARTITION BY user_id ORDER BY t, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                       OR t >= max(t + gap_us) OVER
                       (PARTITION BY user_id ORDER BY t, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     THEN 1 ELSE 0 END AS new_s
         FROM base),
       sessions AS (
         SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id)
                  AS sid
         FROM marked)
       SELECT user_id,
              make_timestamp(min(t)) AS win_start,
              make_timestamp(max(t + gap_us)) AS win_end,
              count(*)::BIGINT AS n_events,
              sum(value::DECIMAL(12,4))::DOUBLE AS sum_value
       FROM sessions GROUP BY user_id, sid""",
)


def stream_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream join — the complete outer family (inner /
    left / semi already registered): matched purchase⋈click pairs, PLUS
    unmatched purchases once the global watermark passes their eviction
    point, PLUS unmatched clicks once it passes theirs.

    Empirically pinned eviction rules (Spark 4.1, single-batch availableNow;
    global watermark wm = min over both filtered sides of max event time −
    1 h, same as stream_stream_outer_join):
      - left  (purchase): emitted NULL-padded iff p_ts < wm — no range-span
        subtraction, because the condition bounds clicks by c_ts <= p_ts.
      - right (click): emitted NULL-padded iff c_ts + 30 min < wm — the
        interval span DOES subtract here, because a click at c_ts can still
        match purchases up to p_ts = c_ts + 30 min.
    The oracle replays exactly those rules.
    """
    scratch = _scratch("ssfull", sf_dir)
    p = (
        _events_stream(spark, sf_dir, scratch)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    c = (
        _events_stream(spark, sf_dir, scratch)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    j = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "full_outer",
    ).select(
        "purchase_id",
        F.coalesce(F.col("user_id"), F.col("c_user")).alias("uid"),
        _to_ntz("p_ts").alias("purchase_ts"),
        "click_id",
        _to_ntz("c_ts").alias("click_ts"),
    )
    name = f"ssfull_{os.getpid()}_{next(_uniq)}"
    q = (
        j.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


register(
    "stream_stream_full_outer_join",
    stream_stream_full_outer_join,
    """WITH matched AS (
         SELECT p.event_id AS purchase_id, p.user_id AS uid, p.ts AS purchase_ts,
                c.event_id AS click_id, c.ts AS click_ts
         FROM events p JOIN events c
           ON p.user_id = c.user_id
          AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
         WHERE p.event_type = 'purchase' AND c.event_type = 'click'),
       wm AS (SELECT least(
                (SELECT max(ts) FROM events WHERE event_type = 'purchase'),
                (SELECT max(ts) FROM events WHERE event_type = 'click'))
                - INTERVAL 60 MINUTE AS w)
       SELECT * FROM matched
       UNION ALL
       SELECT p.event_id, p.user_id, p.ts,
              NULL::BIGINT AS click_id, NULL::TIMESTAMP AS click_ts
       FROM events p, wm
       WHERE p.event_type = 'purchase'
         AND p.ts < wm.w
         AND NOT EXISTS (SELECT 1 FROM events c
                         WHERE c.event_type = 'click' AND c.user_id = p.user_id
                           AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts)
       UNION ALL
       SELECT NULL::BIGINT, c.user_id, NULL::TIMESTAMP,
              c.event_id AS click_id, c.ts AS click_ts
       FROM events c, wm
       WHERE c.event_type = 'click'
         AND c.ts + INTERVAL 30 MINUTE < wm.w
         AND NOT EXISTS (SELECT 1 FROM events p
                         WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
                           AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts)""",
)


def stream_exactly_once_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once SINK semantics on an at-least-once channel, the
    foreachBatch idempotent-writer pattern: each micro-batch overwrites its
    OWN partition directory (batch_id=N), so redelivering a batch replaces
    identical data instead of appending duplicates. The query SIMULATES the
    failure/replay: after the stream completes, batch 0 is delivered a
    second time through the same writer — and the final table still
    aggregates to the exact batch answer (the oracle is the plain batch
    aggregate; any duplication would break the hash match).

    This is the standard Structured Streaming end-to-end-exactly-once recipe
    (checkpoint WAL gives at-least-once delivery of batches; an idempotent
    batch-keyed sink upgrades it): at 100 TB the overwrite is a partition
    swap, never a table rewrite, and recovery cost is one batch.
    """
    scratch = _scratch("eos", sf_dir)
    indir = os.path.join(scratch, "in")
    os.makedirs(indir)
    ev = load(spark, sf_dir, "events")
    import glob as _glob
    import time as _time

    now = _time.time()
    for i in range(3):
        d = os.path.join(scratch, f"w{i}")
        ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode("overwrite").parquet(d)
        dst = os.path.join(indir, f"b{i}.parquet")
        shutil.copy(_glob.glob(os.path.join(d, "part-*.parquet"))[0], dst)
        os.utime(dst, (now + i, now + i))
    out = os.path.join(scratch, "sink")

    def write_batch(df: DataFrame, batch_id: int) -> None:
        # idempotent: the batch's partition dir is overwritten wholesale,
        # so a replayed batch_id leaves the table unchanged
        df.write.mode("overwrite").parquet(os.path.join(out, f"batch_id={batch_id}"))

    raw = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(indir)
    )
    q = (
        raw.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # at-least-once replay: deliver batch 0 AGAIN through the same writer
    b0 = spark.read.schema(ev.schema).parquet(os.path.join(indir, "b0.parquet"))
    write_batch(b0, 0)
    sink = spark.read.parquet(out)
    return sink.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,4)")).cast("double").alias("sum_value"),
    )


register(
    "stream_exactly_once_sink",
    stream_exactly_once_sink,
    """SELECT event_type, count(*)::BIGINT AS n_events,
              sum(value::DECIMAL(12,4))::DOUBLE AS sum_value
       FROM events GROUP BY event_type""",
)


def stream_totals_complete_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPLETE output mode — the third and last output mode (append and
    update are already registered): an unwindowed global aggregate re-emits
    the ENTIRE result table every micro-batch, so the memory sink after the
    final batch holds exactly the batch-equivalent totals. Three
    deterministic micro-batches (event_id % 3 file split) prove the
    intermediate emissions are superseded, not appended.

    At 100 TB complete mode is only viable because the RESULT is small (one
    row per event type) — the state store holds the running aggregate, the
    sink rewrites |result| rows per batch, never the corpus. That smallness
    constraint is the mode's documented contract.
    """
    scratch = _scratch("complete", sf_dir)
    indir = os.path.join(scratch, "in")
    os.makedirs(indir)
    ev = load(spark, sf_dir, "events")
    import glob as _glob
    import time as _time

    now = _time.time()
    for i in range(3):
        d = os.path.join(scratch, f"w{i}")
        ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode("overwrite").parquet(d)
        dst = os.path.join(indir, f"b{i}.parquet")
        shutil.copy(_glob.glob(os.path.join(d, "part-*.parquet"))[0], dst)
        os.utime(dst, (now + i, now + i))
    raw = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(indir)
    )
    agg = raw.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,4)")).cast("double").alias("sum_value"),
    )
    name = f"complete_{os.getpid()}_{next(_uniq)}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


register(
    "stream_totals_complete_mode",
    stream_totals_complete_mode,
    """SELECT event_type, count(*)::BIGINT AS n_events,
              sum(value::DECIMAL(12,4))::DOUBLE AS sum_value
       FROM events GROUP BY event_type""",
)


def stream_scd2_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD type-2 maintenance: the event history arrives in three
    TIME-ORDERED micro-batches and foreachBatch maintains the validity-
    interval dimension table incrementally — each batch (1) closes the
    previously-open interval of every key it touches (valid_to = the key's
    first new timestamp), (2) appends the batch's own intervals with the
    last one left open. The final table is hash-identical to the BATCH
    lead()-over-history build (scd2_intervals' oracle) — the Cquirrel
    prefix-closure property applied to dimension versioning instead of an
    aggregate (ref's incremental state maintenance,
    Q10AggregateProcessFunction.java:43-52, generalized).

    State is a versioned parquet table keyed by user_id: the merge touches
    ONLY keys present in the batch (O(Δ) + a partition-pruned read of open
    intervals), never rescans closed history — at 100 TB the state table is
    a Delta/Iceberg MERGE target and the shape is unchanged. Batches are
    split on the global (ts, event_id) order so the stream respects event
    time (an SCD2 sink requires in-order delivery per key; the split
    guarantees it globally, which is stronger but testable).
    """
    scratch = _scratch("scd2up", sf_dir)
    indir = os.path.join(scratch, "in")
    os.makedirs(indir)
    ev = load(spark, sf_dir, "events")
    import glob as _glob
    import time as _time

    # three contiguous chunks of the global (ts, event_id) order
    wglob = Window.orderBy("ts", "event_id")
    ranked = ev.withColumn("_rn", F.row_number().over(wglob))
    n_total = ranked.count()
    cut = (n_total + 2) // 3
    now = _time.time()
    for i in range(3):
        d = os.path.join(scratch, f"w{i}")
        (
            ranked.filter((F.col("_rn") > i * cut) & (F.col("_rn") <= (i + 1) * cut))
            .drop("_rn")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(d)
        )
        dst = os.path.join(indir, f"b{i}.parquet")
        shutil.copy(_glob.glob(os.path.join(d, "part-*.parquet"))[0], dst)
        os.utime(dst, (now + i, now + i))

    state_dir = os.path.join(scratch, "state")
    schema = (
        "user_id bigint, event_id bigint, event_type string, "
        "valid_from timestamp_ntz, valid_to timestamp_ntz, is_current boolean"
    )

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        sp = batch.sparkSession
        wkey = Window.partitionBy("user_id").orderBy("ts", "event_id")
        new_iv = batch.select(
            "user_id",
            "event_id",
            "event_type",
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(wkey).alias("valid_to"),
            F.lead("ts").over(wkey).isNull().alias("is_current"),
        )
        first_new = batch.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
        prev = os.path.join(state_dir, f"v{batch_id - 1}")
        if os.path.isdir(prev):
            state = sp.read.schema(schema).parquet(prev)
            # close open intervals for touched keys; untouched rows pass through
            closed = (
                state.join(F.broadcast(first_new), "user_id", "left_outer")
                .select(
                    "user_id",
                    "event_id",
                    "event_type",
                    "valid_from",
                    F.when(
                        F.col("is_current") & F.col("first_ts").isNotNull(),
                        F.col("first_ts"),
                    )
                    .otherwise(F.col("valid_to"))
                    .alias("valid_to"),
                    (F.col("is_current") & F.col("first_ts").isNull()).alias("is_current"),
                )
            )
            merged = closed.unionByName(new_iv)
        else:
            merged = new_iv
        merged.write.mode("overwrite").parquet(os.path.join(state_dir, f"v{batch_id}"))

    raw = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(indir)
    )
    q = (
        raw.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    versions = sorted(
        int(os.path.basename(p)[1:]) for p in _glob.glob(os.path.join(state_dir, "v*"))
    )
    return spark.read.schema(schema).parquet(os.path.join(state_dir, f"v{versions[-1]}"))


register(
    "stream_scd2_upsert",
    stream_scd2_upsert,
    # identical to the batch scd2_intervals build — the IVM parity oracle
    """SELECT user_id, event_id, event_type, ts AS valid_from,
              lead(ts) OVER w AS valid_to,
              lead(ts) OVER w IS NULL AS is_current
       FROM events
       WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",
)


def stream_cdc_latest_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD type-1 (CDC latest-wins upsert): three time-ordered
    micro-batches of the event changelog maintain a current-state table in
    foreachBatch — each batch reduces ITSELF to one row per key first
    (intra-batch latest), then full-outer-merges with the previous state,
    newer (ts, event_id) winning. The final table is hash-identical to the
    batch upsert_latest_wins window build — IVM prefix-closure for the
    MERGE/upsert pattern (the reference's per-key ValueState update,
    Q10AggregateProcessFunction.java:23-27, generalized to whole-row
    latest-wins).

    The merge is O(|batch keys| + |state|) per batch with both sides hash-
    partitioned on the key; at 100 TB the state table is a Delta/Iceberg
    MERGE target partitioned on user_id and only touched partitions
    rewrite. Batches split on the global (ts, event_id) order, so per-key
    arrival order respects event time.
    """
    scratch = _scratch("cdc1", sf_dir)
    indir = os.path.join(scratch, "in")
    os.makedirs(indir)
    ev = load(spark, sf_dir, "events")
    import glob as _glob
    import time as _time

    wglob = Window.orderBy("ts", "event_id")
    ranked = ev.withColumn("_rn", F.row_number().over(wglob))
    n_total = ranked.count()
    cut = (n_total + 2) // 3
    now = _time.time()
    for i in range(3):
        d = os.path.join(scratch, f"w{i}")
        (
            ranked.filter((F.col("_rn") > i * cut) & (F.col("_rn") <= (i + 1) * cut))
            .drop("_rn")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(d)
        )
        dst = os.path.join(indir, f"b{i}.parquet")
        shutil.copy(_glob.glob(os.path.join(d, "part-*.parquet"))[0], dst)
        os.utime(dst, (now + i, now + i))

    state_dir = os.path.join(scratch, "state")
    schema = (
        "user_id bigint, last_event_id bigint, last_ts timestamp_ntz, "
        "last_type string, last_value double"
    )

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        sp = batch.sparkSession
        wkey = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
        latest = (
            batch.withColumn("_rn", F.row_number().over(wkey))
            .filter(F.col("_rn") == 1)
            .select(
                "user_id",
                F.col("event_id").alias("last_event_id"),
                F.col("ts").alias("last_ts"),
                F.col("event_type").alias("last_type"),
                F.col("value").alias("last_value"),
            )
        )
        prev = os.path.join(state_dir, f"v{batch_id - 1}")
        if os.path.isdir(prev):
            state = sp.read.schema(schema).parquet(prev)
            # newer (ts, event_id) wins; batches arrive in event-time order,
            # so batch rows beat state rows on ties-by-construction
            merged = (
                state.unionByName(latest)
                .withColumn(
                    "_rn",
                    F.row_number().over(
                        Window.partitionBy("user_id").orderBy(
                            F.desc("last_ts"), F.desc("last_event_id")
                        )
                    ),
                )
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        else:
            merged = latest
        merged.write.mode("overwrite").parquet(os.path.join(state_dir, f"v{batch_id}"))

    raw = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(indir)
    )
    q = (
        raw.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    versions = sorted(
        int(os.path.basename(p)[1:]) for p in _glob.glob(os.path.join(state_dir, "v*"))
    )
    return spark.read.schema(schema).parquet(os.path.join(state_dir, f"v{versions[-1]}"))


register(
    "stream_cdc_latest_wins",
    stream_cdc_latest_wins,
    # identical to the batch upsert_latest_wins build — the IVM parity oracle
    """SELECT user_id, event_id AS last_event_id, ts AS last_ts,
              event_type AS last_type, value AS last_value
       FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts DESC, event_id DESC) AS rn
             FROM events)
       WHERE rn = 1""",
)


def stream_state_timeout_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom sessionization with EVENT-TIME TIMEOUTS — the state-expiry
    mechanism none of the other stateful queries exercise: sessions (10-min
    inactivity gap) accumulate in applyInPandasWithState keyed state; a
    session closes EITHER when a later event of the same user arrives past
    the gap (data path) OR when the watermark passes session_end + gap and
    Spark fires the group's event-time timeout (state.hasTimedOut path) —
    the mechanism that guarantees state is ALWAYS reclaimed, even for keys
    that never speak again (the reference's unbounded Set state,
    Q10OrdersProcessFunction.java:28-30, has no such path — state lives
    forever there). Two far-future sentinel batches advance the watermark so
    every open session times out deterministically; the oracle is the batch
    gaps-and-islands sessionization, so the streaming split points must be
    exactly right.

    At 100 TB: timeouts are how per-key session state on a million idle
    users gets evicted without a tombstone topic; the RocksDB state store
    holds (start, end, n) per live key only.
    """
    scratch = _scratch("sesstmo", sf_dir)
    indir = os.path.join(scratch, "in")
    os.makedirs(indir)
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    import glob as _glob
    import time as _time

    wglob = Window.orderBy("ts", "event_id")
    ranked = ev.withColumn("_rn", F.row_number().over(wglob))
    n_total = ranked.count()
    cut = (n_total + 2) // 3
    now = _time.time()
    for i in range(3):
        d = os.path.join(scratch, f"w{i}")
        (
            ranked.filter((F.col("_rn") > i * cut) & (F.col("_rn") <= (i + 1) * cut))
            .drop("_rn")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(d)
        )
        shutil.copy(
            _glob.glob(os.path.join(d, "part-*.parquet"))[0],
            os.path.join(indir, f"b{i}.parquet"),
        )
        os.utime(os.path.join(indir, f"b{i}.parquet"), (now + i, now + i))
    # two sentinel batches: the first advances the watermark past every real
    # session's timeout; the second gives Spark a batch DURING which the
    # already-advanced watermark fires those timeouts
    sent = ev.agg(F.max("ts").alias("m"))
    for j, days in enumerate((30, 60)):
        d = os.path.join(scratch, f"s{j}")
        (
            sent.select(
                F.lit(-1).cast("bigint").alias("user_id"),
                F.expr(f"m + INTERVAL {days} DAYS").alias("ts"),
                F.lit(-1 - j).cast("bigint").alias("event_id"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(d)
        )
        shutil.copy(
            _glob.glob(os.path.join(d, "part-*.parquet"))[0],
            os.path.join(indir, f"b{3 + j}.parquet"),
        )
        os.utime(os.path.join(indir, f"b{3 + j}.parquet"), (now + 3 + j, now + 3 + j))

    GAP_US = 600_000_000

    def sessionize(key, pdf_iter, state):
        import pandas as pd

        if state.hasTimedOut:
            st, en, n = state.get
            state.remove()
            yield pd.DataFrame(
                {"user_id": [key[0]], "sess_start_us": [st], "sess_end_us": [en], "n_events": [n]}
            )
            return
        rows = []
        for pdf in pdf_iter:
            # pandas ns epochs -> exact integer microseconds
            rows.extend(int(t) // 1000 for t in pdf["ts"].astype("int64"))
        rows.sort()
        sessions = []
        if state.exists:
            st, en, n = state.get
        else:
            st = en = n = None
        for t in rows:
            if st is None:
                st, en, n = t, t, 1
            elif t - en > GAP_US:
                sessions.append((st, en, n))
                st, en, n = t, t, 1
            else:
                en = t
                n += 1
        state.update((st, en, n))
        state.setTimeoutTimestamp((en // 1000) + (GAP_US // 1000))
        if sessions:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(sessions),
                    "sess_start_us": [s[0] for s in sessions],
                    "sess_end_us": [s[1] for s in sessions],
                    "n_events": [s[2] for s in sessions],
                }
            )

    from pyspark.sql.streaming.state import GroupStateTimeout

    raw = (
        spark.readStream.schema("user_id BIGINT, ts TIMESTAMP_NTZ, event_id BIGINT")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(indir)
        # watermark needs TIMESTAMP; session tz is pinned UTC so the cast
        # is a pure re-tag (epoch values unchanged)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "0 seconds")
    )
    sessions = raw.groupBy("user_id").applyInPandasWithState(
        sessionize,
        outputStructType=(
            "user_id BIGINT, sess_start_us BIGINT, sess_end_us BIGINT, n_events BIGINT"
        ),
        stateStructType="st BIGINT, en BIGINT, n BIGINT",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    out = os.path.join(scratch, "out")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out)

    q = (
        sessions.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.schema(
        "user_id BIGINT, sess_start_us BIGINT, sess_end_us BIGINT, n_events BIGINT"
    ).parquet(out)
    return got.filter(F.col("user_id") >= 0)


register(
    "stream_state_timeout_sessions",
    stream_state_timeout_sessions,
    # batch gaps-and-islands sessionization with the same 10-min gap
    """WITH base AS (
         SELECT user_id, epoch_us(ts)::BIGINT AS t FROM events),
       marked AS (
         SELECT user_id, t,
                CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
                          > 600000000
                       OR lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
                     THEN 1 ELSE 0 END AS new_sess
         FROM base),
       islanded AS (
         SELECT user_id, t,
                sum(new_sess) OVER (PARTITION BY user_id ORDER BY t
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS sess
         FROM marked)
       SELECT user_id, min(t)::BIGINT AS sess_start_us,
              max(t)::BIGINT AS sess_end_us, count(*)::BIGINT AS n_events
       FROM islanded GROUP BY user_id, sess""",
)


def stream_minhash_dedup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING near-dedup with a persisted MinHash/LSH index — the
    incremental-view-maintenance discipline (the reference's whole point,
    DataFlow.java:26-61) applied to the LLM-pipeline's hardest operator:
    documents arrive in three doc_id-ordered micro-batches; each batch (1)
    computes its 64-perm signatures, (2) probes the PERSISTED signature
    index via the banded equi-join for earlier-corpus candidates, (3)
    self-probes its own bands for earlier-in-batch candidates, (4) verifies
    exact estimated Jaccard (matches/64 >= 0.5) only on candidates, emits
    one verdict per doc (earliest matching predecessor or NULL), and (5)
    appends its signatures to the index. Per-batch work is O(batch bands ⋈
    index) — the corpus is NEVER rescanned. The oracle is the one-shot
    batch formulation over all (a < b) banded pairs, so the final streamed
    verdict table must equal what a full recompute would say —
    prefix-closure for near-dedup.

    At 100 TB the index is a bucketed table on (band, sig), ~0.5 KB/doc;
    a day's ingest probes and appends without touching history.
    """
    scratch = _scratch("mhidx", sf_dir)
    indir = os.path.join(scratch, "in")
    os.makedirs(indir)
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    import glob as _glob
    import time as _time

    wglob = Window.orderBy("doc_id")
    ranked = docs.withColumn("_rn", F.row_number().over(wglob))
    n_total = ranked.count()
    cut = (n_total + 2) // 3
    now = _time.time()
    for i in range(3):
        d = os.path.join(scratch, f"w{i}")
        (
            ranked.filter((F.col("_rn") > i * cut) & (F.col("_rn") <= (i + 1) * cut))
            .drop("_rn")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(d)
        )
        shutil.copy(
            _glob.glob(os.path.join(d, "part-*.parquet"))[0],
            os.path.join(indir, f"b{i}.parquet"),
        )
        os.utime(os.path.join(indir, f"b{i}.parquet"), (now + i, now + i))

    from ..operators import dedup as _dd

    state_dir = os.path.join(scratch, "mh_index")
    out_dir = os.path.join(scratch, "verdicts")
    mh_schema = "doc_id bigint, " + ", ".join(f"h{i} bigint" for i in range(_dd.N_MINHASH))

    def probe_and_index(batch: DataFrame, batch_id: int) -> None:
        sp = batch.sparkSession
        mh_b = _dd.minhash_signatures(batch).persist()
        bands_b = _dd.lsh_bands(mh_b)
        prev = os.path.join(state_dir, f"v{batch_id - 1}")
        cands = (
            bands_b.alias("a")
            .join(
                bands_b.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.sig") == F.col("b.sig"))
                & (F.col("b.doc_id") < F.col("a.doc_id")),
            )
            .select(F.col("a.doc_id").alias("d"), F.col("b.doc_id").alias("c"))
        )
        mh_all = mh_b
        if os.path.isdir(prev):
            mh_state = sp.read.schema(mh_schema).parquet(prev)
            bands_state = _dd.lsh_bands(mh_state)
            cands = cands.unionByName(
                bands_b.alias("a")
                .join(
                    bands_state.alias("b"),
                    (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.sig") == F.col("b.sig")),
                )
                .select(F.col("a.doc_id").alias("d"), F.col("b.doc_id").alias("c"))
            )
            mh_all = mh_b.unionByName(mh_state)
        cands = cands.distinct()
        matches = sum(
            (F.col(f"ma.h{i}") == F.col(f"mb.h{i}")).cast("int")
            for i in range(_dd.N_MINHASH)
        )
        hits = (
            cands.join(mh_b.alias("ma"), cands.d == F.col("ma.doc_id"))
            .join(mh_all.alias("mb"), cands.c == F.col("mb.doc_id"))
            .withColumn("est", matches / F.lit(float(_dd.N_MINHASH)))
            .filter(F.col("est") >= 0.5)
            .groupBy("d")
            .agg(F.min("c").alias("near_dup_of"), F.count(F.lit(1)).alias("n_matches"))
        )
        (
            batch.select("doc_id")
            .join(hits, batch.doc_id == hits.d, "left")
            .select(
                "doc_id",
                "near_dup_of",
                F.coalesce("n_matches", F.lit(0)).cast("long").alias("n_matches"),
            )
            .write.mode("append")
            .parquet(out_dir)
        )
        # index append: previous state + this batch's signatures
        mh_all.write.mode("overwrite").parquet(os.path.join(state_dir, f"v{batch_id}"))
        mh_b.unpersist(False)

    raw = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(indir)
    )
    q = (
        raw.writeStream.foreachBatch(probe_and_index)
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.schema("doc_id bigint, near_dup_of bigint, n_matches bigint").parquet(
        out_dir
    )


from .llm import _EST_JACCARD_SQL as _EJ_SQL  # noqa: E402
from .llm import _MH_CHAIN_CTE as _MH_CTE  # noqa: E402

register(
    "stream_minhash_dedup_index",
    stream_minhash_dedup_index,
    # the one-shot batch recompute over ALL earlier-doc banded pairs — the
    # streamed verdicts must match it exactly (prefix closure)
    f"""WITH {_MH_CTE},
       cand AS (
         SELECT DISTINCT a.doc_id AS d, b.doc_id AS c
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.sig = b.sig AND b.doc_id < a.doc_id),
       est AS (
         SELECT d, c, {_EJ_SQL}
         FROM cand JOIN mh ma ON cand.d = ma.doc_id
         JOIN mh mb ON cand.c = mb.doc_id),
       hits AS (
         SELECT d, min(c) AS near_dup_of, count(*) AS n_matches
         FROM est WHERE est_jaccard >= 0.5 GROUP BY d)
       SELECT doc_id, near_dup_of,
              coalesce(n_matches, 0)::BIGINT AS n_matches
       FROM documents LEFT JOIN hits ON documents.doc_id = hits.d""",
)
