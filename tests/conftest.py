from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from real_estate_data_analysis_with_aws_data_pipeline_project_spark.session import (  # noqa: E402
    get_spark,
)

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    import tempfile

    s = get_spark(
        app_name="engine-tests",
        master="local[4]",
        shuffle_partitions=4,
        # static conf — must be set at session build time; keeps
        # saveAsTable (bucketing tests) out of the repo tree
        extra_conf={"spark.sql.warehouse.dir": tempfile.mkdtemp()},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct_dir():
    return SF_CORRECT


@pytest.fixture(scope="session")
def emptied_table_dir(tmp_path_factory):
    """Factory ``table -> dir``: an sf0.001 table dir in which ``table``
    has zero rows (same schema, written from a pyarrow ``slice(0, 0)``)
    and every other table is a symlink to the smoke table. One dir per
    table per session."""
    import pyarrow.parquet as pq

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        TABLES,
        table_path,
    )

    made: dict[str, str] = {}

    def make(table: str) -> str:
        if table not in made:
            d = str(tmp_path_factory.mktemp(f"empty_{table}"))
            for t in TABLES:
                src = table_path(SF_SMOKE, t)
                if t == table:
                    empty = pq.read_table(src).slice(0, 0)
                    pq.write_table(empty, table_path(d, t))
                else:
                    os.symlink(src, table_path(d, t))
            made[table] = d
        return made[table]

    return make
