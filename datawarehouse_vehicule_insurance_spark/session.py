"""SparkSession factory.

The reference builds a boto3 session from env vars
(reference: scripts/config/aws_credentials.py:7-21); here the same env
contract configures the s3a connector on a shared SparkSession. Local
testing runs ``local[N]`` with AQE on — the knobs below are the 100-TB
design point defaults (AQE coalescing + skew-join, sane shuffle
parallelism, Arrow for the pandas-UDF slow path).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .compat import safe_set_log_level


def get_spark(
    app_name: str = "datawarehouse_vehicule_insurance_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster leave it unset and submit with spark-submit. On a cluster the
    same builder config applies — AQE handles shuffle-partition coalescing
    and skew splitting at runtime, so the static ``shuffle_partitions``
    only needs to be a reasonable upper bound (cores × 2-3).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # guide §6: zstd ≈ snappy read speed at a markedly better ratio —
        # fewer bytes through every sink AND every downstream scan of
        # the loops' persisted artifacts (indexes, model tables, batches)
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        # PySpark 4.1 wraps every Column/function call in _with_origin:
        # getActiveSession, a conf read and a JVM origin set + clear per
        # call, only to name the Python call site in error contexts.
        # PySpark reads this key once per process, at the first wrapped
        # call with an active session.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_GRAFT_CPUS" in os.environ or not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")

    # s3a credentials from the same env contract as the reference
    # (reference: scripts/config/aws_credentials.py:7-21, README.md:67-72).
    access = os.environ.get("AWS_ACCESS_KEY_ID")
    secret = os.environ.get("AWS_SECRET_ACCESS_KEY")
    if access and secret:
        builder = (
            builder.config("spark.hadoop.fs.s3a.access.key", access)
            .config("spark.hadoop.fs.s3a.secret.key", secret)
        )
        region = os.environ.get("AWS_DEFAULT_REGION")
        if region:
            builder = builder.config(
                "spark.hadoop.fs.s3a.endpoint.region", region
            )

    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)

    spark = builder.getOrCreate()
    # no-op under Spark Connect (no client log-level API) — see compat
    safe_set_log_level(spark, "WARN")
    return spark
