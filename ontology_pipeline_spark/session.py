"""SparkSession factory tuned for the KG-construction workload.

Defaults are chosen for the local[32] sandbox but every knob matters at
cluster scale:

* AQE on — runtime partition coalescing + skew-join splitting (head
  entities like "Sleep Quality" dominate the co-reference graph, so the
  relation-scoring self-join and the CC iterations are skew-prone).
* Arrow enabled — every Python stage in this engine is Arrow-batched
  (pandas UDF / mapInPandas); row-at-a-time Python is banned.
* shuffle partitions sized to cores locally; on a real cluster this is
  set to 2-3x total executor cores (AQE coalesces down).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    master: str | None = None,
    app_name: str = "ontology_pipeline_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master=None`` defers to an existing session / spark-submit; tests and
    bench pass ``local[N]`` explicitly.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    deferred = master is None and "PYSPARK_GATEWAY_PORT" in os.environ
    if master is None and not deferred:
        # plain-python launch: no JVM gateway yet, so no spark-submit master
        # to defer to — default to local.  Under spark-submit the gateway
        # already carries the submitted master (yarn/k8s/local[N]) and
        # setting one here would silently run cluster jobs on the driver.
        master = f"local[{cpus}]"
    if shuffle_partitions is None and not deferred:
        # local[N] or local[N,maxFailures] -> N; "local[*]" -> cpu count
        inner = master.split("[")[-1].rstrip("]").split(",")[0] if "[" in master else ""
        shuffle_partitions = int(inner) if inner.isdigit() else cpus

    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    if shuffle_partitions is not None:
        # under a deferred (spark-submit) launch with no explicit request,
        # the submitted --conf spark.sql.shuffle.partitions wins untouched
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = (
        builder
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
