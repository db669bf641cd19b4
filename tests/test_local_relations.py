"""Driver-built relations and the rank kernel's execute jobs.

``session.local_frame`` is the one owner of driver-built relations: a
``LocalRelation`` whose broadcast or scan launches no Spark job. The
rank kernel's pass 2 is partitioned by tag and its per-tag assembly
sits on one partition, which bounds a warm Lorenz execute call's jobs.
Also here: the streaming dedup's state eviction and the IPF walk's
NULL-weight semantics.
"""

from __future__ import annotations

import ast
import os
import time

import duckdb
import pytest
from pyspark.sql.types import StructType

from real_estate_data_analysis_with_aws_data_pipeline_project_spark.api import (
    QUERIES,
)
from real_estate_data_analysis_with_aws_data_pipeline_project_spark.queries_extra import (
    _IPF_LAST,
    _IPF_STEPS_SQL,
    _ipf_rake,
)
from real_estate_data_analysis_with_aws_data_pipeline_project_spark.session import (
    local_frame,
)

PKG_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "real_estate_data_analysis_with_aws_data_pipeline_project_spark",
)


def _jobs_launched(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, "counted execute call")
    try:
        fn()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup("", "")


def test_local_frame_types_nulls_and_plan(spark):
    ddl = "k bigint, x double, s string"
    rows = [(1, 2.5, "a"), (None, None, None), (3, 4.0, "")]
    df = local_frame(spark, rows, ddl)
    assert df.schema == StructType.fromDDL(ddl)
    assert [tuple(r) for r in df.collect()] == rows
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation"), plan

    empty = local_frame(spark, [], StructType.fromDDL(ddl))
    assert empty.schema == StructType.fromDDL(ddl)
    assert empty.collect() == []
    assert empty._jdf.queryExecution().optimizedPlan().toString().startswith(
        "LocalRelation"
    )
    # a broadcast of it runs no job
    assert _jobs_launched(
        spark,
        "local_frame_broadcast",
        lambda: spark.range(3)
        .join(
            local_frame(spark, [(1, "x")], "id bigint, v string").hint(
                "broadcast"
            ),
            "id",
        )
        .explain("formatted"),
    ) == 0


def test_local_frame_rejects_ragged_rows(spark):
    with pytest.raises(ValueError):
        local_frame(spark, [(1, 2)], "a bigint")
    with pytest.raises(ValueError):
        local_frame(spark, [(1, 2), (3,)], "a bigint, b bigint")


def test_no_create_dataframe_outside_local_frame():
    """Every driver-built relation in the package goes through
    ``local_frame``; its body holds the only ``createDataFrame`` call."""
    found = []
    for root, _dirs, files in os.walk(PKG_DIR):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            owner = {}
            for fn in ast.walk(tree):
                if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    for node in ast.walk(fn):
                        owner.setdefault(id(node), fn.name)
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"
                ):
                    found.append(
                        (os.path.relpath(path, PKG_DIR), owner.get(id(node)))
                    )
    assert found == [("session.py", "local_frame")], found


def test_warm_lorenz_execute_jobs_ratchet(spark, sf_dir):
    """A warm agg_lorenz_deciles execute call launches at most 4 jobs:
    no job for a driver-built relation and no exchange after the
    tag-keyed window."""
    fn = QUERIES["agg_lorenz_deciles"].fn
    fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
    df = fn(spark, sf_dir)
    n = _jobs_launched(
        spark,
        "lorenz_execute",
        lambda: df.write.mode("overwrite").format("noop").save(),
    )
    assert n <= 4, n


def test_streaming_dedup_state_is_evicted(spark, sf_dir):
    """The dedup stream's state shrinks once the watermark passes: the
    last micro-batch holds far fewer state rows than there are
    events."""
    from pyspark.sql.streaming import StreamingQueryListener

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.streaming.jobs import (
        streaming_dedup_events,
    )

    progress: list = []
    runs: dict = {}
    done: set = set()

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if p.name == "stream_dedup_events":
                runs[str(p.runId)] = True
                progress.append(
                    sum(int(o.numRowsTotal) for o in p.stateOperators or [])
                )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            done.add(str(event.runId))

    listener = _Listener()
    spark.streams.addListener(listener)
    try:
        out = streaming_dedup_events(spark, sf_dir)
        n_events = load_table(spark, sf_dir, "events").count()
        assert out.agg({"n_unique_events": "sum"}).first()[0] == n_events
        deadline = time.monotonic() + 60
        while not (runs and set(runs) <= done) and time.monotonic() < deadline:
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
    assert runs and set(runs) <= done, "no terminated dedup run seen"
    assert progress, "no progress event"
    assert progress[-1] * 20 <= n_events, (progress, n_events)


def _ipf_sql(cube):
    """The oracle's step chain on a hand-made cube (DuckDB)."""
    con = duckdb.connect()
    con.execute("CREATE TABLE o (seg VARCHAR, pri VARCHAR, in_sample BOOLEAN, c BIGINT)")
    con.executemany("INSERT INTO o VALUES (?, ?, ?, ?)", cube)
    return con.execute(
        f"""
        WITH c0 AS (
            SELECT seg, pri, c AS n, CAST(1000000 AS BIGINT) AS w
            FROM o WHERE in_sample
        ),
        rm AS (SELECT seg AS ax, CAST(sum(c) AS BIGINT) AS t FROM o GROUP BY 1),
        cm AS (SELECT pri AS ax, CAST(sum(c) AS BIGINT) AS t FROM o GROUP BY 1),
        {_IPF_STEPS_SQL}
        SELECT seg, pri, n, w FROM {_IPF_LAST} ORDER BY seg, pri
        """
    ).fetchall()


def test_ipf_walk_keeps_null_weights_null():
    """Seg B's one cell shares priority p1 with seg A, whose weight the
    first row step lifts ~1e7-fold, so the p1 column step rounds B's
    weight to 0; B's next row step then divides by a zero axis sum and
    the weight turns NULL. The walk must carry that NULL through every
    later step (no ``None * n``), exactly as the SQL chain does."""
    cube = [
        ("A", "p1", True, 1),
        ("A", "p2", False, 10_000_000),
        ("B", "p1", True, 1),
        ("C", "p2", True, 3),
    ]
    cells, max_gap = _ipf_rake(cube)
    assert [c[:3] for c in cells] == [("A", "p1", 1), ("B", "p1", 1), ("C", "p2", 3)]
    assert dict(((s, p), w) for s, p, _n, w in cells)[("B", "p1")] is None
    assert cells == [tuple(r) for r in _ipf_sql(cube)]
    assert max_gap is not None and max_gap > 0


def test_ipf_walk_without_sample_has_no_cells():
    cells, max_gap = _ipf_rake([("A", "p1", False, 5)])
    assert cells == []
    assert max_gap == 1000000  # the absent margin surfaces its 100 % gap
