"""SparkSession factory with scale-appropriate defaults.

The reference pins a fixed DOP of 2 (DataFlow.java:30); here parallelism is left
to Spark: AQE re-plans shuffles at runtime (partition coalescing, skew-join
splitting), and the shuffle-partition default is sized for the local test rig
while remaining a plain config knob for a real cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "flink-acyclic-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Defaults honor the driver environment: ``SPARK_GRAFT_CPUS`` sizes
    ``local[N]``, AQE is on so runtime stats fix partition counts and skew,
    and Arrow is enabled for the Pandas-UDF paths (similarity / multimodal).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        env = os.environ.get("SPARK_GRAFT_SHUFFLE")
        if env is not None:
            shuffle_partitions = int(env)
        else:
            # scale with the session's cores (1x, floor 16) instead of a
            # constant tuned to either local mode or a cluster — AQE then
            # coalesces small shuffles back down at runtime (r12: a fixed 32
            # pinned shuffle parallelism regardless of $SPARK_GRAFT_CPUS).
            # 2x cores was measured first and REVERTED: at 32 cores it took
            # the continuous stacks from 98 to 146 s (hundreds of tiny
            # micro-batch exchanges each paying double the task overhead)
            # and the headline from 19.8 to 22.4 s — AQE coalescing does not
            # refund scheduling latency on sub-second stages.
            n = int(cpus) if cpus.isdigit() else (os.cpu_count() or 8)
            shuffle_partitions = max(n, 16)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # no cap on a single-partition input: without statistics on a join's
        # output the planner sizes it as the product of its inputs' sizes,
        # so the second join of a chain of KB-sized single-partition inputs
        # already passes the default 128 MB and gets both sides re-shuffled.
        # The streaming engine folds a small batch's delta join in one task
        # only under this setting (IncrementalAcyclicQuery._fits_one_task);
        # it never sets it on the caller's session itself
        .config("spark.sql.maxSinglePartitionBytes", str(2**63 - 1))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
