"""The micro-unit rounding rule has one owner.

``functions.scalar.micro_units_sql`` (BIGINT micro-units,
``floor(x·1e6 + 0.5)``) and ``micro6_sql`` (the same printed at 6 dp)
are SQL text valid in both Spark and DuckDB. These tests evaluate both
in both engines over a grid of edge values and check they agree, and
check that no other package code spells the rule out by hand.
"""

from __future__ import annotations

import ast
import os

import duckdb
import pytest
from pyspark.sql import functions as F

from real_estate_data_analysis_with_aws_data_pipeline_project_spark.functions.scalar import (
    micro6_sql,
    micro_units_sql,
)
from real_estate_data_analysis_with_aws_data_pipeline_project_spark.session import (
    local_frame,
)

PKG_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "real_estate_data_analysis_with_aws_data_pipeline_project_spark",
)
RULE = "* 1000000e0 + 0.5e0"

# 0, signed zero, ordinary and negative values, products that land on
# (or one ulp off) a .5 micro boundary, NULL, and magnitudes near the
# int64 micro-unit bound (|x| < 9.22e12).
GRID = [
    0.0,
    -0.0,
    1.0,
    -1.0,
    0.123456789,
    -0.123456789,
    3.14159265358979,
    -2.718281828459045,
    0.0000005,
    -0.0000005,
    0.0000015,
    -0.0000025,
    1.0000005,
    -1.0000005,
    0.375,
    -0.375,
    2.5 / 1048576,
    -2.5 / 1048576,
    1e-7,
    -1e-7,
    123456.7890125,
    -123456.7890125,
    None,
    9.2e12,
    -9.2e12,
    9223372036854.0,
    -9223372036854.0,
]


def _spark_rows(spark):
    df = local_frame(spark, list(enumerate(GRID)), "i bigint, x double")
    out = df.select(
        "i",
        F.expr(micro_units_sql("x")).alias("m"),
        F.expr(micro6_sql("x")).alias("r"),
    ).collect()
    return {row.i: (row.m, row.r) for row in out}


def _duckdb_rows():
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(GRID)))
    rows = con.execute(
        f"SELECT i, {micro_units_sql('x')} AS m, {micro6_sql('x')} AS r FROM t"
    ).fetchall()
    return {i: (m, r) for i, m, r in rows}


def test_micro_units_agree_across_engines(spark):
    """Both owners give identical values in Spark and DuckDB on every
    grid point (NULL stays NULL)."""
    s, d = _spark_rows(spark), _duckdb_rows()
    assert set(s) == set(d) == set(range(len(GRID)))
    diffs = [(GRID[i], s[i], d[i]) for i in s if s[i] != d[i]]
    assert not diffs, diffs
    null_i = GRID.index(None)
    assert s[null_i] == (None, None)
    assert s[GRID.index(9.2e12)][0] == 9_200_000_000_000_000_000


@pytest.mark.parametrize("x", ["a - b", "(a - b)"])
def test_micro_units_splices_its_argument(x):
    """The owner splices ``x`` as given: callers parenthesize a binary
    +/- themselves, and oracle text built from it stays byte-stable."""
    assert micro_units_sql(x) == f"CAST(floor({x} * 1000000e0 + 0.5e0) AS BIGINT)"
    assert micro6_sql(x) == f"round({micro_units_sql(x)} / 1000000e0, 6)"


def _oracle_names(tree: ast.Module) -> set[str]:
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and getattr(node.func, "id", None) == "register":
            args = node.args[1:] + [k.value for k in node.keywords if k.arg == "oracle"]
            names.update(a.id for a in args if isinstance(a, ast.Name))
    return names


def test_micro_rule_has_one_owner():
    """``* 1000000e0 + 0.5e0`` appears in no package code outside
    ``functions/scalar.py``, except in oracle SQL: module constants
    registered as (or named as) oracles and ``*oracle*`` builders —
    the reference text never changes."""
    found = []
    for root, _dirs, files in os.walk(PKG_DIR):
        for f in files:
            path = os.path.join(root, f)
            rel = os.path.relpath(path, PKG_DIR)
            if not f.endswith(".py") or rel == os.path.join("functions", "scalar.py"):
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            oracles = _oracle_names(tree)
            for top in tree.body:
                if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    if "oracle" in top.name.lower():
                        continue
                elif isinstance(top, (ast.Assign, ast.AnnAssign)):
                    targets = top.targets if isinstance(top, ast.Assign) else [top.target]
                    if any(
                        isinstance(t, ast.Name) and (t.id in oracles or "ORACLE" in t.id)
                        for t in targets
                    ):
                        continue
                for node in ast.walk(top):
                    if (
                        isinstance(node, ast.Constant)
                        and isinstance(node.value, str)
                        and RULE in node.value
                    ):
                        found.append((rel, node.lineno))
    assert not found, found
