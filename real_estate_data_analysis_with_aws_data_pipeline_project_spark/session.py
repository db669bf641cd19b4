"""SparkSession factory with scale-aware defaults.

The reference configures nothing explicitly (no ``spark.conf.set``
anywhere — SURVEY.md §4.2); we instead pin the settings that matter for
both local testing and a large cluster:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- shuffle partitions sized to the local core count (the default 200 is
  wrong for local[N]; on a real cluster this is overridden by AQE's
  coalescing anyway)
- UTC session timezone, so results agree with the DuckDB oracle
- Arrow enabled for any pandas-UDF path
- the package's parent directory on the Python workers' PYTHONPATH, so
  pandas/Python UDFs defined in the package import on the workers
  whatever the driver's working directory
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "real-estate-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_cpus()
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cpus, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime bloom-filter pushdown: a selective dim filter builds
        # a bloom filter that prunes the fact-side scan before the
        # join — negligible locally, decisive on 100 TB fact tables
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # events.parquet stores ts as TIMESTAMP(NANOS); Spark has no
        # nanos timestamp type — read as long, catalog converts to µs
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    conf = dict(extra_conf or {})
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    key = "spark.executorEnv.PYTHONPATH"
    conf[key] = os.pathsep.join(p for p in (pkg_parent, conf.get(key)) if p)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
