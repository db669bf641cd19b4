#!/usr/bin/env python
"""Full driver-contract oracle sweep at an arbitrary scale factor.

The driver verifies at sf0.01; FP-boundary divergences (rounding rules,
sum order) may only materialize with more rows — round 2 caught a
Python-banker's-rounding bug in a pandas UDF ONLY at sf0.1 with this
sweep. Run it at sf0.1 after adding queries:

    python tools/oracle_sweep.py [sf_dir]

Optional second arg restricts the sweep: ``window`` sweeps only the
driver's 50-query CORRECTNESS window (rotation pre-flight at sf0.01),
or a comma-separated list of query names.

The session takes ``get_spark``'s defaults (``local[N]`` on the host's
cores, ``SPARK_GRAFT_CPUS`` to override). Each query's outcome (ok,
MISMATCH, rows-only or SPARK ERROR) prints as soon as it is known, so
a stopped sweep still shows what it reached.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from tests.oracle import _norm_rows  # noqa: E402  (one comparison rule everywhere)
from real_estate_data_analysis_with_aws_data_pipeline_project_spark.session import (  # noqa: E402
    get_spark,
)
from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (  # noqa: E402
    TABLES,
    table_path,
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="oracle-sweep")
    queries, oracles = entry.queries(), entry.oracle_sql()
    if len(sys.argv) > 2:
        if sys.argv[2] == "window":
            keep = list(queries)[:50]
        else:
            keep = sys.argv[2].split(",")
        queries = {n: queries[n] for n in keep}
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    bad: list[tuple[str, str]] = []
    n_ok = n_rows_only = 0
    for name, fn in queries.items():
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:  # noqa: BLE001
            bad.append((name, f"spark error: {ex!r}"[:200]))
            print(f"{name}: SPARK ERROR ({time.time() - t0:.1f}s)", flush=True)
            continue
        if name not in oracles:
            n_rows_only += 1
            print(
                f"{name}: rows-only, {len(sdf)} rows ({time.time() - t0:.1f}s)",
                flush=True,
            )
            continue
        odf = con.execute(oracles[name]).fetchdf()
        # same normalization as tests/oracle.py (ADVICE r2): raw str()
        # flagged spurious -0.0/0.0, numpy-repr, and NaN-promotion diffs
        s_cols = sorted(c.lower() for c in sdf.columns)
        o_cols = sorted(c.lower() for c in odf.columns)
        s_vals = _norm_rows(list(sdf.columns), sdf.itertuples(index=False, name=None))
        o_vals = _norm_rows(list(odf.columns), odf.itertuples(index=False, name=None))
        if s_cols == o_cols and s_vals == o_vals:
            n_ok += 1
            outcome = "ok"
        else:
            bad.append((name, "mismatch"))
            outcome = "MISMATCH"
        print(f"{name}: {outcome} ({time.time() - t0:.1f}s)", flush=True)
    print(f"\n{n_ok} oracle-green, {n_rows_only} rows-only, {len(bad)} bad at {sf_dir}")
    for name, why in bad:
        print(f"  BAD {name}: {why}")
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
