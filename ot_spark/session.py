"""SparkSession factory tuned for this engine.

Local-mode testing, cluster-shaped configuration: AQE on (runtime re-plan,
skew-join splitting, small-partition coalescing), Arrow on (all Python
boundaries are vectorized), shuffle partitions sized to parallelism rather
than the 200 default.  On a real cluster the same builder is used with
``master`` left to spark-submit.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _submitted_master() -> str | None:
    """The master spark-submit handed this driver, or None.

    spark-submit starts the JVM first, passes its gateway to the Python
    driver through ``PYSPARK_GATEWAY_PORT`` and records ``--master`` as
    the JVM system property ``spark.master``.  A plain ``python`` run has
    no JVM yet; starting one here would launch it before the builder's
    driver-memory setting could reach it, so that case returns None."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return None
    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized()
    return SparkConf().get("spark.master")


def get_spark(
    app_name: str = "ot_spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``parallelism`` controls local core count (``local[N]``); at cluster
    scale it is ignored and executors come from spark-submit, whose
    ``--master`` is kept when ``master`` is not given.  Shuffle
    partitions default to 2x parallelism — enough to keep AQE's coalescing
    busy without tiny-task overhead at local scale; at 100 TB this knob is
    instead set to ~2-3x total executor cores and AQE coalesces down.
    """
    if parallelism is None:
        parallelism = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * parallelism, 8)
    if master is None:
        master = _submitted_master() or f"local[{parallelism}]"

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(parallelism))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("OT_SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # InferFiltersFromGenerate synthesizes `size(arr)>0 AND isnotnull`
        # above every explode; PushDownPredicate then moves it below the
        # scan-parallelism-floor repartition and CollapseProject INLINES
        # the array derivation (the tokenizer regex, span UDFs, ...) into
        # the filter — so the most expensive map expression in the query
        # runs TWICE, once on the unfanned single-row-group scan (one
        # task).  Measured: inverted_index 2.8s -> 1.5s warm at 10x sf0.1.
        # The rule only prunes empty-array rows pre-shuffle — a no-op
        # semantically, and our explodes sit above the fan repartition
        # where the early prune saves nothing.  Overridable per deploy.
        .config(
            "spark.sql.optimizer.excludedRules",
            os.environ.get(
                "OT_SPARK_EXCLUDED_RULES",
                "org.apache.spark.sql.catalyst.optimizer."
                "InferFiltersFromGenerate",
            ),
        )
        # HotSpot never JIT-compiles methods over ~8 KB of bytecode, so a
        # whole-stage-fused method past that limit runs JVM-INTERPRETED —
        # measured 3x slower than per-operator execution on the Bloom
        # register build (big generated expression trees: sketches, h3x).
        # Capping hugeMethodLimit at the JIT threshold makes Spark fall
        # back to the per-operator path exactly when fusion stops paying.
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        # A lineage table has one cell_bucket=*/run=* dir per bucket (65 at
        # the default 64 buckets); past this threshold (default 32) Spark
        # lists the dirs with a Spark job of one task per dir.  Measured on
        # a 4-core host: that job was a fixed ~0.35 s of every table read
        # and of every commit's read-back, while a driver-side listing of
        # the same dirs takes milliseconds (in local mode the listing
        # "job" runs on the driver host anyway).  Cluster deploys listing
        # thousands of remote dirs per read can lower it again.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
