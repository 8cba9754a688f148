"""SparkSession factory with scale-oriented defaults.

Tuned for local[N] testing but with settings that carry to a large cluster:
AQE on (runtime re-planning, skew-join splitting, partition coalescing),
Arrow enabled for the Pandas-UDF paths, and a shuffle-partition count that
AQE can shrink. On a real 1000-executor cluster the same configs apply; only
``master`` and memory sizing change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """Local core count: ``SPARK_GRAFT_CPUS`` when set, else the CPUs
    this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))


def get_spark(app_name: str = "photon_spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with photon_spark defaults.

    ``master`` defaults to ``local[default_cpus()]`` and shuffle
    partitions to the same core count (AQE coalesces further at
    runtime).
    """
    cpus = default_cpus()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing, skew-join splitting, join-strategy switch.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for every pandas_udf / applyInPandas / mapInPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Broadcast small dimension tables aggressively (catalog/state tables
        # are tiny next to the events table).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Read legacy/ns parquet timestamps without rebase surprises.
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # Deployment-specific overrides without code changes (e.g. cluster
    # memory sizing, A/B measurement of planner settings):
    # SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2". Applied last, so they win over
    # the defaults above. Only read at session build; an existing session
    # is returned as-is (getOrCreate semantics).
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for kv in filter(None, (p.strip() for p in extra.split(";"))):
        k, sep, v = kv.partition("=")
        if not (sep and k.strip() and v.strip()):
            # fail LOUDLY: this knob exists for deployment-critical
            # overrides and A/B measurement — a silently-dropped entry
            # would measure the default and label it the override
            raise ValueError(
                f"SPARK_GRAFT_EXTRA_CONF entry {kv!r} is not 'key=value'")
        builder = builder.config(k.strip(), v.strip())
    return builder.getOrCreate()
