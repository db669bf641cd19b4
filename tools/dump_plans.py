#!/usr/bin/env python
"""Dump `explain("formatted")` of registered queries, one file per
query, with expression ids, RDD ids and ``plan_id`` normalized so two
dumps of the same plans are byte-identical.

Usage:
    python tools/dump_plans.py <out_dir> [all | query ...]

With no query names the headline queries are dumped; ``all`` dumps
every registered query. The scale factor directory comes from
``SPARK_GRAFT_SF_DIR`` (default sf0.1). Two dumps compare with
``diff -r <before_dir> <after_dir>``.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from real_estate_data_analysis_with_aws_data_pipeline_project_spark.api import (  # noqa: E402
    HEADLINE_QUERIES,
    QUERIES,
)
from real_estate_data_analysis_with_aws_data_pipeline_project_spark.session import (  # noqa: E402
    get_spark,
)

# (pattern, replacement) applied in order: expression ids (`col#123`,
# `#123L`), RDD ids (`ExistingRDD[12]`, `MapPartitionsRDD[34]`) and
# physical plan ids (`plan_id=56`).
_NORMALIZE = [
    (re.compile(r"#\d+L?\b"), "#N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
]


def normalize(plan: str) -> str:
    for pat, rep in _NORMALIZE:
        plan = pat.sub(rep, plan)
    return plan


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    out_dir = sys.argv[1]
    args = sys.argv[2:]
    names = list(QUERIES) if args == ["all"] else (args or list(HEADLINE_QUERIES))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="dump-plans")
    for name in names:
        df = QUERIES[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(normalize(plan))
        print(name, "ok", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
