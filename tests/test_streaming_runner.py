"""The streaming runner and the stateful transforms: every ``*_transform``
is one unstarted applyInPandasWithState stream, and ``_run_to_memory``
hands the batch shuffle width back whether the stream ran or failed to
start."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException

from real_estate_data_analysis_with_aws_data_pipeline_project_spark.streaming.jobs import (
    _events_stream,
    _run_to_memory,
    benford_cube_transform,
    cusum_transform,
    kmv_transform,
    psi_cube_transform,
    user_activity_transform,
)

_WIDTH = "spark.sql.shuffle.partitions"


@pytest.mark.parametrize(
    "transform",
    [
        user_activity_transform,
        cusum_transform,
        psi_cube_transform,
        benford_cube_transform,
        lambda spark, sf_dir: kmv_transform(spark, sf_dir, 16),
    ],
    ids=["user_activity", "cusum", "psi_cube", "benford_cube", "kmv"],
)
def test_transform_is_one_unstarted_stream(spark, sf_dir, transform):
    df = transform(spark, sf_dir)
    assert df.isStreaming
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "FlatMapGroupsInPandasWithState" in plan


def test_run_to_memory_restores_batch_width(spark, sf_dir):
    before = spark.conf.get(_WIDTH)
    spark.conf.set(_WIDTH, "3")
    try:
        stream = _events_stream(spark, sf_dir).select("event_id")
        out = _run_to_memory(stream, "stream_width_probe", "append")
        assert out.count() > 0
        assert spark.conf.get(_WIDTH) == "3"
        # complete mode needs an aggregation: start() raises
        with pytest.raises(AnalysisException):
            _run_to_memory(stream, "stream_width_probe_bad", "complete")
        assert spark.conf.get(_WIDTH) == "3"
    finally:
        spark.conf.set(_WIDTH, before)
