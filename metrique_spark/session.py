"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for correctness on local[N] while remaining the settings
you'd want on a 1000-executor cluster: AQE on (runtime re-planning, skew-join
splitting, partition coalescing), shuffle partitions sized to the
parallelism, Arrow enabled for every pandas-UDF boundary.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "metrique_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster callers pass their own master/deploy config and only the SQL
    confs below apply.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing, skew-join splitting, plan re-opt.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for all pandas-UDF / toPandas boundaries.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Timestamps are UTC everywhere (reference stores UTC epochs).
        .config("spark.sql.session.timeZone", "UTC")
        # Sane scan parallelism for many-small-files layouts.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # Read nanosecond parquet timestamps as long (converted to
        # timestamp in sources.testdata); Spark has no ns timestamp type.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # Full PushedFilters/ReadSchema in plan strings (the 100-char
        # default truncates them with "...", which blinds plans/audit.py;
        # the length is captured at first render, so it must be set at
        # session build, not at audit time).
        .config("spark.sql.maxMetadataStringLength", "100000")
        # No per-call DataFrame call-site capture: it costs ~4 py4j round
        # trips per F.*/withColumn call, dozens of calls per commit.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
