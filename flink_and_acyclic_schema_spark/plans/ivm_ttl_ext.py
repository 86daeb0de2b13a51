"""Continuous queries with WATERMARK-DRIVEN STATE RETENTION (TTL) — the
bounded-state leg of the IVM engine (streaming/acyclic.py, ``RelSpec.ttl``).

The reference runs on Flink, whose production answer to unbounded keyed
state is event-time watermarks + state TTL; its demo query
(ref DataFlow.java:26-61, Q10*ProcessFunction.java) never bounds state, so a
long-running changelog grows MapState forever. These plans close that gap
the engine way: a relation declares ``ttl=(ts_col, horizon)``, its watermark
is the running max event time over ingested deltas, rows below
``horizon(watermark)`` are dropped at ingest (the late-data policy), and
state rows crossing the horizon are EVICTED by re-feeding them through the
batch as retraction deltas — joins, value histograms, and HAVING all retract
through the existing delta algebra, so the maintained result is the
aggregate over the sliding event-time window. At 100 TB this is the
difference between state ∝ stream lifetime and state ∝ window volume.

Why the oracle is plain SQL despite lateness: a delta is late iff its event
time is below the horizon AT ARRIVAL, and the horizon only moves forward —
so every row at or above the FINAL horizon is never dropped, and rows below
it end at net weight 0 whether they were dropped, applied-then-evicted, or
applied-then-deleted. The final state therefore equals a from-scratch
recompute over ``ts >= max(ts) - W`` of the net multiset, independent of the
hash-chunked arrival order (prefix-closure tests: tests/test_acyclic_ttl.py).

- ``incremental_q1_retention_stream``    — Q1-shape pricing summary over the
  trailing 540 days of l_shipdate (single-relation window aggregate)
- ``incremental_retention_join_stream``  — revenue by order priority where
  the CHILD relation (lineitem, bucketed state) carries the TTL: aging
  lineitems retract their join contributions through the delta terms
- ``incremental_retention_extrema_stream`` — windowed MIN/MAX/COUNT-DISTINCT:
  eviction repeatedly retires the window's extrema, forcing the value
  histogram to step to the surviving runner-up (log-structured state regime)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import dec
from ..registry import register
from ..streaming.acyclic import AcyclicQuerySpec, RelSpec
from ..streaming.delta_transport import DeltaGen
from .ivm_ext import _revenue, _run


# --- Q1-shape pricing summary over a sliding 540-day shipdate window ---------
def incremental_q1_retention_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = AcyclicQuerySpec(
        relations=(
            RelSpec(
                "lineitem",
                ttl=("l_shipdate", lambda wm: wm - F.expr("INTERVAL 540 DAYS")),
            ),
        ),
        group_by=("l_returnflag", "l_linestatus"),
        measures={
            "sum_qty": lambda: dec("l_quantity"),
            "sum_base_price": lambda: dec("l_extendedprice"),
            "count_order": lambda: F.lit(1),
        },
        finalize=lambda df: df.select(
            "l_returnflag",
            "l_linestatus",
            F.col("sum_qty").cast("double").alias("sum_qty"),
            F.col("sum_base_price").cast("double").alias("sum_base_price"),
            F.col("count_order").cast("long").alias("count_order"),
        ),
    )
    gens = (
        DeltaGen(
            "lineitem",
            "l_orderkey",
            (
                "l_orderkey",
                "l_returnflag",
                "l_linestatus",
                "l_quantity",
                "l_extendedprice",
                "l_shipdate",
            ),
            dup_mod=5,
            del_mod=7,
        ),
    )
    return _run(spark, sf_dir, "ivm_ttl_q1", spec, gens)


register(
    "incremental_q1_retention_stream",
    incremental_q1_retention_stream,
    """WITH li AS (
         SELECT *, 1 + (l_orderkey % 5 = 0)::INT - (l_orderkey % 7 = 0)::INT AS m
         FROM lineitem),
       wm AS (SELECT max(l_shipdate) AS w FROM lineitem)
       SELECT l_returnflag, l_linestatus,
              sum(m * l_quantity::DECIMAL(12,4))::DOUBLE AS sum_qty,
              sum(m * l_extendedprice::DECIMAL(12,4))::DOUBLE AS sum_base_price,
              sum(m)::BIGINT AS count_order
       FROM li, wm
       WHERE l_shipdate >= w - INTERVAL 540 DAY
       GROUP BY l_returnflag, l_linestatus
       HAVING sum(m) > 0""",
)


# --- join retention: TTL on the bucketed child relation ----------------------
def incremental_retention_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by order priority over the trailing 365 days of l_shipdate.
    The TTL sits on lineitem — the high-churn FACT side — whose state is also
    bucketed by l_orderkey: eviction reads only the closing horizon band
    (rowgroup min-max pruning on l_shipdate), and aging lineitems retract
    their joined revenue through the same delta terms an explicit delete
    would. Runs the log-structured regime (compact_every=2) so eviction's
    (+w, -w) pairs are carried unmerged and net out lazily — linearity."""
    spec = AcyclicQuerySpec(
        relations=(
            RelSpec("orders"),
            RelSpec(
                "lineitem",
                join_on=("l_orderkey", "o_orderkey"),
                ttl=("l_shipdate", lambda wm: wm - F.expr("INTERVAL 365 DAYS")),
                buckets=16,
                bucket_key=("l_orderkey",),
                # round 6: zone-cluster the bucketed+ttl state by 90-day
                # shipdate zones ahead of the key sort, so post-compaction
                # eviction band reads prune by rowgroup (SCALE.md round 6)
                ttl_zone="90 DAYS",
            ),
        ),
        group_by=("o_orderpriority",),
        measures={"revenue": _revenue},
        finalize=lambda df: df.withColumn(
            "revenue", F.col("revenue").cast("double")
        ),
    )
    gens = (
        DeltaGen(
            "orders",
            "o_orderkey",
            ("o_orderkey", "o_orderpriority"),
            dup_mod=3,
            del_mod=11,
        ),
        DeltaGen(
            "lineitem",
            "l_orderkey",
            ("l_orderkey", "l_extendedprice", "l_discount", "l_shipdate"),
            dup_mod=5,
            del_mod=7,
        ),
    )
    return _run(spark, sf_dir, "ivm_ttl_join", spec, gens, compact_every=2)


register(
    "incremental_retention_join_stream",
    incremental_retention_join_stream,
    """WITH o AS (
         SELECT *, 1 + (o_orderkey % 3 = 0)::INT - (o_orderkey % 11 = 0)::INT AS m
         FROM orders),
       li AS (
         SELECT *, 1 + (l_orderkey % 5 = 0)::INT - (l_orderkey % 7 = 0)::INT AS m
         FROM lineitem),
       wm AS (SELECT max(l_shipdate) AS w FROM lineitem)
       SELECT o_orderpriority,
              sum(o.m * li.m * l_extendedprice::DECIMAL(12,4)
                  * (1 - l_discount)::DECIMAL(12,4))::DOUBLE AS revenue
       FROM o JOIN li ON o_orderkey = l_orderkey, wm
       WHERE l_shipdate >= w - INTERVAL 365 DAY
       GROUP BY o_orderpriority
       HAVING sum(o.m * li.m) > 0""",
)


# --- windowed extrema: eviction retires the current MIN/MAX repeatedly -------
def incremental_retention_extrema_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Order-price extrema and distinct-customer count per priority over the
    trailing 365 days of o_orderdate. The oldest rows hold extrema with high
    probability, so every horizon advance exercises the non-invertible
    retraction path: the value histogram must step MIN/MAX to the surviving
    runner-up, exactly as a from-scratch recompute over the window would."""
    spec = AcyclicQuerySpec(
        relations=(
            RelSpec(
                "orders",
                ttl=("o_orderdate", lambda wm: wm - F.expr("INTERVAL 365 DAYS")),
            ),
        ),
        group_by=("o_orderpriority",),
        measures={"total_price": lambda: dec("o_totalprice")},
        hist_measures={
            "min_price": ("min", lambda: F.col("o_totalprice")),
            "max_price": ("max", lambda: F.col("o_totalprice")),
            "n_cust": ("count_distinct", lambda: F.col("o_custkey")),
        },
        finalize=lambda df: df.withColumn(
            "total_price", F.col("total_price").cast("double")
        ),
    )
    gens = (
        DeltaGen(
            "orders",
            "o_orderkey",
            ("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice", "o_orderdate"),
            dup_mod=4,
            del_mod=3,
        ),
    )
    return _run(spark, sf_dir, "ivm_ttl_extrema", spec, gens, compact_every=2)


register(
    "incremental_retention_extrema_stream",
    incremental_retention_extrema_stream,
    """WITH o AS (
         SELECT *, 1 + (o_orderkey % 4 = 0)::INT - (o_orderkey % 3 = 0)::INT AS m
         FROM orders),
       wm AS (SELECT max(o_orderdate) AS w FROM orders),
       win AS (SELECT o.* FROM o, wm WHERE o_orderdate >= w - INTERVAL 365 DAY),
       sums AS (
         SELECT o_orderpriority,
                sum(m * o_totalprice::DECIMAL(12,4))::DOUBLE AS total_price,
                sum(m) AS support
         FROM win GROUP BY o_orderpriority),
       hp AS (
         SELECT o_orderpriority, min(o_totalprice) AS min_price,
                max(o_totalprice) AS max_price
         FROM (SELECT o_orderpriority, o_totalprice, sum(m) AS w2
               FROM win GROUP BY 1, 2)
         WHERE w2 > 0 GROUP BY o_orderpriority),
       hc AS (
         SELECT o_orderpriority, count(DISTINCT o_custkey)::BIGINT AS n_cust
         FROM (SELECT o_orderpriority, o_custkey, sum(m) AS w2
               FROM win GROUP BY 1, 2)
         WHERE w2 > 0 GROUP BY o_orderpriority)
       SELECT o_orderpriority, total_price, min_price, max_price, n_cust
       FROM sums JOIN hp USING (o_orderpriority) JOIN hc USING (o_orderpriority)
       WHERE support > 0""",
)
