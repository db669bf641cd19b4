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

``local_frame(spark, rows, schema)`` is the one owner of driver-built
relations (rank cuts, per-tag bases, metadata-scale result rows). It
ships the rows as an Arrow table typed from the ``StructType``, so the
plan is a ``LocalRelation``: a broadcast or scan of it launches no
Spark job and pickles no row, and the planner sees its real size.
``spark.createDataFrame(list, ddl)`` instead plans a ``LogicalRDD``,
whose broadcast runs a job and whose size the planner cannot see.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


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


def local_frame(
    spark: SparkSession, rows, schema: StructType | str
) -> DataFrame:
    """A ``LocalRelation`` holding ``rows`` (tuples in ``schema``
    field order; ``None`` is SQL NULL) typed by ``schema``, a
    ``StructType`` or a DDL string. The result's schema is exactly
    ``schema``; an empty ``rows`` gives an empty relation."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows, strict=True)) if rows else [()] * len(arrow)
    if len(cols) != len(arrow):
        raise ValueError(
            f"rows have {len(cols)} fields, schema has {len(arrow)}"
        )
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)
