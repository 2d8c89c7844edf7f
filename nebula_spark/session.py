"""SparkSession factory with scale-appropriate defaults.

Local mode is the test harness; the conf set is chosen so the same code
is correct on a multi-executor cluster: AQE on (runtime coalesce, skew
join splitting), shuffle partitions sized to the parallelism level,
Arrow enabled for the few vectorized-UDF paths, UTC session timezone so
results compare bit-for-bit with the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 8


def find_jdbc_jar() -> str | None:
    """A DuckDB JDBC driver jar if one is cached locally (the public
    Maven artifact ``org.duckdb:duckdb_jdbc``) — lets the JDBCSource
    smoke test run against an in-memory database with no server.
    Override with ``NEBULA_JDBC_JAR``; returns None when absent."""
    import glob

    env = os.environ.get("NEBULA_JDBC_JAR")
    if env:
        return env if os.path.exists(env) else None
    for pat in (
        "~/.cache/coursier/**/duckdb_jdbc*.jar",
        "~/.m2/**/duckdb_jdbc*.jar",
        "~/.ivy2/**/duckdb_jdbc*.jar",
    ):
        base = os.path.expanduser(pat.split("**")[0])
        if not os.path.isdir(base):
            continue
        hits = glob.glob(os.path.expanduser(pat), recursive=True)
        if hits:
            return sorted(hits)[-1]
    return None


def find_spark_avro_jar() -> str | None:
    """The external spark-avro datasource jar if one is cached locally
    (public Maven artifact ``org.apache.spark:spark-avro_2.13`` — NOT
    the core avro-*.jar bundled with Spark, which lacks the DataSource
    registration). Probed the same way as the JDBC driver; override
    with ``NEBULA_AVRO_JAR``. Returns None when absent, in which case
    the avro round-trip test skips with the artifact named."""
    import glob

    env = os.environ.get("NEBULA_AVRO_JAR")
    if env:
        return env if os.path.exists(env) else None
    candidates = [
        "~/.cache/coursier/**/spark-avro_*.jar",
        "~/.m2/**/spark-avro_*.jar",
        "~/.ivy2/**/spark-avro_*.jar",
    ]
    # Spark's own jars dir (an admin may have dropped the module there —
    # then it's already on the classpath, but returning it is harmless)
    spark_home = os.environ.get("SPARK_HOME")
    if spark_home:
        candidates.append(os.path.join(spark_home, "jars", "spark-avro_*.jar"))
    for pat in candidates:
        base = os.path.expanduser(pat.split("**")[0].split("*")[0]) or "/"
        if not os.path.isdir(os.path.dirname(base) or base):
            continue
        hits = glob.glob(os.path.expanduser(pat), recursive=True)
        if hits:
            return sorted(hits)[-1]
    return None


def get_spark(
    app_name: str = "nebula_spark",
    parallelism: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``parallelism`` sets both ``local[N]`` and the shuffle-partition
    count — on a real cluster the master URL comes from spark-submit
    and only the shuffle sizing applies.
    """
    n = parallelism or default_parallelism()
    # NEBULA_SHUFFLE_PARTITIONS pins the shuffle width independently of
    # the core count — required for honest N-vs-4N scaling runs (both
    # levels must shuffle into the SAME number of partitions, or the
    # comparison confounds parallelism with task sizing)
    shuffle_parts = int(
        os.environ.get("NEBULA_SHUFFLE_PARTITIONS", max(n * 4, 8))
    )
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_MASTER", f"local[{n}]"))
        .appName(app_name)
        # shuffle partitions ~ 4× cores: keeps individual partitions of
        # wide rows (token arrays) small enough to stay in-memory; AQE
        # coalesces the small ones back together
        .config("spark.sql.shuffle.partitions", str(shuffle_parts))
        .config("spark.default.parallelism", str(max(n, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # split fat parquet files across tasks (local files have no HDFS
        # block boundaries; without this a 100 MB file is 1 input split)
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        # a LakeTable scan names its files (the manifest holds every
        # path and size), so listing them is one driver-side stat per
        # path; above the default threshold of 32 paths Spark instead
        # submits a "Listing leaf files" job, measured at 0.33-0.42 s
        # for a 56-file compaction on a 4-core host
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        # max(struct(...)) aggregations (LWW dedup/merge) run on
        # ObjectHashAggregate; the default fallback-to-sort threshold of
        # 128 keys turns large dedups into spilling sorts — keep them
        # hash-based (rows are bounded by the shuffle partition size)
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
        # small-batch MERGE sides should broadcast
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    # multi-executor masters (local-cluster / standalone): the worker's
    # memory offer does NOT size the executor JVM — spark.executor.memory
    # does (default 1g). Irrelevant under plain local[N].
    if os.environ.get("SPARK_EXECUTOR_MEMORY"):
        builder = builder.config(
            "spark.executor.memory", os.environ["SPARK_EXECUTOR_MEMORY"]
        )
    jars = [j for j in (find_jdbc_jar(), find_spark_avro_jar()) if j]
    if jars:
        builder = builder.config("spark.jars", ",".join(jars))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
