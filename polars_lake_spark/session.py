"""SparkSession construction and runtime configuration.

The reference keeps one process-wide mutable table registry
(``/root/reference/src/database.rs:27-35``); our analog is one long-lived
SparkSession whose catalog holds the registered views.  Unlike the
reference — which rebuilds its SQLContext per query
(``/root/reference/src/database.rs:50-52``) — views are registered once at
table-mutation time.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable SQL confs applied to ANY session (including one handed
# to us by a driver).  All of these are dynamic SQLConf entries.
_RUNTIME_CONFS = {
    # Deterministic wall-clock semantics for timestamp_ltz <-> ntz casts.
    "spark.sql.session.timeZone": "UTC",
    # The driver's events.parquet carries TIMESTAMP(NANOS) which the
    # vectorized reader rejects; read as int64 nanos and convert ourselves
    # (see sources/tables.py:load_events).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Runtime re-planning: coalesce tiny shuffle partitions, split skewed
    # ones — essential at 100 TB where static shuffle.partitions is wrong
    # for at least one stage.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for any pandas-UDF path (dedup / similarity / multimodal).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Only rewrite partitions present in the incoming batch on overwrite —
    # the scalable analog of the reference's per-part rewrite
    # (/root/reference/src/dataset.rs:330-353) instead of its root wipe.
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
}


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply our runtime confs to an existing session (idempotent)."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Non-settable in this deployment; semantics-critical confs
            # (nanosAsLong, timeZone) are re-checked at use sites.
            pass
    return spark


def isolated_session(spark: SparkSession) -> SparkSession:
    """A session on ``spark``'s SparkContext with its own SQLConf, carrying
    the engine's runtime confs and the caller's shuffle width. Conf
    overrides made on it never reach a query planned concurrently on
    ``spark`` (the serving facade shares one session across threads)."""
    iso = configure_session(spark.newSession())
    iso.conf.set(
        "spark.sql.shuffle.partitions",
        spark.conf.get("spark.sql.shuffle.partitions"),
    )
    return iso


def get_spark(
    app_name: str = "polars-lake-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the engine session.

    Local test/bench topology comes from ``SPARK_GRAFT_CPUS`` (default all
    cores); on a real cluster ``master`` is supplied by spark-submit and we
    only set SQL-level confs.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Keep scan partitions sized so one fits executor memory comfortably.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return configure_session(spark)
