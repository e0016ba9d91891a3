"""SparkSession factory with the engine's tuned defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


_BASE_DRIVER_JAVA_OPTS = "-XX:ReservedCodeCacheSize=768m"


def get_spark(
    app_name: str = "hexspark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a SparkSession tuned for the engine.

    AQE (with skew-join splitting) is on; Arrow is on for all pandas UDF
    exchange; timezone pinned to UTC so results match the DuckDB oracle.
    On a real cluster the same confs apply — only ``master`` changes
    (``spark-submit --py-files hexspark.zip``).
    """
    # SPARK_GRAFT_CPUS is a DEFAULT, not an override: an explicitly
    # passed master always wins (bench_scaling's N-vs-4N legs and the
    # test fixture pass exact core counts — a silent env rewrite would
    # run both scaling legs at the same width and fake the efficiency)
    if master is None:
        master = os.environ.get("HEXSPARK_MASTER")
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("HEXSPARK_SHUFFLE_PARTITIONS", "32"))

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("HEXSPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # whole-stage codegen emits one compiled class per plan; a long
    # query suite fills the JVM's default ~240m code cache and HotSpot
    # silently falls back to interpreted paths (measured: late-suite
    # q14_tile_pyramid 7.8s -> 6.0s with 512m; raised to 768m in r7
    # when the widened-input plans added a stage per operator and
    # late-suite queries re-inflated ~25-40% vs isolated).  Must be set
    # BEFORE the driver JVM launches.  Env, then caller options are
    # APPENDED, not substituted — bench_scaling's '-XX:+UseParallelGC'
    # must not silently drop this fix; a caller overriding the same flag
    # wins anyway (the JVM takes the LAST occurrence of a repeated flag).
    conf = dict(extra_conf or {})
    conf["spark.driver.extraJavaOptions"] = " ".join(filter(None, (
        _BASE_DRIVER_JAVA_OPTS,
        os.environ.get("HEXSPARK_DRIVER_JAVA_OPTS"),
        conf.get("spark.driver.extraJavaOptions"),
    )))
    for k, v in conf.items():
        b = b.config(k, v)
    return b.getOrCreate()
