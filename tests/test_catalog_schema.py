"""The catalog's schema owner: each table's schema is inferred once per
session and file fingerprint (``catalog.table_schema``), and every read
after that is pinned to it, so a ``load_table`` or an events stream
build launches no Spark job. A ratchet holds the benchmark's warm
build calls to their measured job counts."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench.workloads import ANALYTICS
from real_estate_data_analysis_with_aws_data_pipeline_project_spark.api import QUERIES
from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
    TABLES,
    load_table,
    normalize_events_ts,
    table_path,
)
from real_estate_data_analysis_with_aws_data_pipeline_project_spark.streaming.jobs import (
    _events_stream,
)


def _jobs_launched(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, "must launch no Spark job")
    try:
        fn()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup("", "")


# Spark jobs launched by a warm build call (the query function, no
# action) of each analytics_warm query at sf0.001, local[4]. Only the
# rank kernel's driver walk is left; the catalog reads launch none.
WARM_BUILD_JOBS = {
    "agg_lorenz_deciles": 4,
    "graph_jaccard_similarity": 0,
    "tpch_q5_local_supplier_volume": 0,
    "flagship_enriched_sample": 0,
}


def _value_hash(df) -> tuple:
    """(rows, order-insensitive hash of every row's values). bit_xor,
    not sum: a sum of 64-bit hashes overflows under ANSI."""
    row = df.select(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64(*df.columns)).alias("h"),
    ).first()
    return row.n, row.h


def test_repeat_load_table_and_events_stream_launch_no_job(spark, sf_dir):
    for name in TABLES:
        load_table(spark, sf_dir, name)  # warm-up: infers the schema once
    for name in TABLES:
        jobs = _jobs_launched(
            spark, f"schema_probe_{name}", lambda: load_table(spark, sf_dir, name)
        )
        assert jobs == 0, f"load_table({name!r}) launched {jobs} jobs"
    jobs = _jobs_launched(
        spark, "schema_probe_stream", lambda: _events_stream(spark, sf_dir)
    )
    assert jobs == 0, f"building the events stream launched {jobs} jobs"


def test_rewritten_table_is_reinferred_in_same_session(spark, sf_dir, tmp_path):
    """A table rewritten in place under an unchanged sf_dir — events.ts
    going from TIMESTAMP(NANOS) to TIMESTAMP(MICROS, NTZ) and region
    gaining a column — is read with its new schema and values, not the
    schema inferred before the rewrite."""
    d = str(tmp_path)
    for t in TABLES:
        if t not in ("events", "region"):
            os.symlink(table_path(sf_dir, t), table_path(d, t))
    region = pq.read_table(table_path(sf_dir, "region"))
    events = pq.read_table(table_path(sf_dir, "events"))
    ts_us = events.column("ts").cast(pa.int64()).to_pylist()

    def write_events(ts_arr) -> None:
        i = events.schema.get_field_index("ts")
        pq.write_table(
            events.set_column(i, "ts", ts_arr),
            table_path(d, "events"),
            coerce_timestamps=None,
        )

    pq.write_table(region, table_path(d, "region"))
    write_events(pa.array([u * 1000 for u in ts_us], pa.timestamp("ns")))
    before_region = load_table(spark, d, "region")
    before_events = load_table(spark, d, "events")
    assert before_region.columns == region.column_names
    assert str(before_events.schema["ts"].dataType) == "TimestampType()"
    want_ts = sorted(r.ts for r in before_events.select("ts").collect())

    # Rewrite both in place: a second later, so the event times differ.
    pq.write_table(
        region.append_column("r_comment", pa.array(["x"] * region.num_rows)),
        table_path(d, "region"),
    )
    write_events(pa.array([u + 1_000_000 for u in ts_us], pa.timestamp("us")))

    after_region = load_table(spark, d, "region")
    assert after_region.columns == [*region.column_names, "r_comment"]
    assert {r.r_comment for r in after_region.collect()} == {"x"}
    after_events = load_table(spark, d, "events")
    assert str(after_events.schema["ts"].dataType) == "TimestampType()"
    got_ts = sorted(r.ts for r in after_events.select("ts").collect())
    assert [(g - w).total_seconds() for g, w in zip(got_ts, want_ts)] == [1.0] * len(
        want_ts
    )


def test_pinned_read_equals_inferred_read(spark, sf_dir):
    """At sf0.001, every table read through the catalog equals a plain
    schema-inferring ``spark.read.parquet`` (with the same events.ts
    normalization) on schema and on an order-insensitive value hash."""
    for name in TABLES:
        pinned = load_table(spark, sf_dir, name)
        plain = spark.read.parquet(table_path(sf_dir, name))
        if name == "events":
            plain = normalize_events_ts(plain, plain.schema)
        assert pinned.schema == plain.schema, name
        assert _value_hash(pinned) == _value_hash(plain), name


def test_analytics_warm_build_jobs_ratchet(spark, sf_dir):
    """A warm build call of each analytics_warm query launches no more
    Spark jobs than ``WARM_BUILD_JOBS`` records: a rise fails here
    before it shows in the benchmark's ``queries.build_jobs``."""
    assert set(WARM_BUILD_JOBS) == set(ANALYTICS)
    for name, most in WARM_BUILD_JOBS.items():
        fn = QUERIES[name].fn
        fn(spark, sf_dir)  # cold call: fills schemas and session caches
        jobs = _jobs_launched(
            spark, f"warm_build_{name}", lambda: fn(spark, sf_dir)
        )
        assert jobs <= most, f"warm build of {name!r} launched {jobs} jobs"
