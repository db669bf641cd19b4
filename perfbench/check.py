"""Output checks: expected results from each query's DuckDB oracle,
compared by row count and an order-insensitive value hash.

The normalization is the engine's oracle-parity rule: columns sorted
by lower-cased name, NULL and NaN read as ``<null>``, floats compared
by exact ``repr``, rows sorted before hashing.
"""

from __future__ import annotations

import hashlib
import math

from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
    TABLES,
    table_path,
)


def _cell(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, float):
        return "<null>" if math.isnan(v) else repr(float(v))
    return str(v)


def digest(pdf) -> tuple[int, str]:
    """(row count, sha256 of the sorted normalized rows) of a pandas frame."""
    cols = sorted(pdf.columns, key=str.lower)
    rows = sorted(
        tuple(_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256(repr([c.lower() for c in cols]).encode())
    for r in rows:
        h.update(repr(r).encode())
    return len(rows), h.hexdigest()


def oracle_digests(jobs: list[tuple[str, str]], sf_dir: str) -> dict:
    """``jobs`` = [(key, sql)] -> {key: (rows, hash)}, in DuckDB over the
    parquet tables of ``sf_dir`` (one view per table)."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
            )
        return {key: digest(con.execute(sql).fetchdf()) for key, sql in jobs}
    finally:
        con.close()
