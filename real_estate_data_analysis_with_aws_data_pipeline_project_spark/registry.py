"""Query registry mechanism (see api.py for the assembled surface).

``QUERIES[name] = QuerySpec(fn, oracle)`` where ``fn(spark, sf_dir) ->
DataFrame`` and ``oracle`` is equivalent ANSI SQL for the DuckDB oracle
(None → the driver records a weaker rows-only check).

Oracle-hash compatibility conventions:
- every computed column aliased identically in Spark and SQL;
- computed doubles quantized on both sides so sum-order FP drift
  cannot flip the value hash: ratios and statistics go through the
  micro-unit owner ``functions.scalar.micro_units_sql`` /
  ``micro6_sql`` (``floor(x·1e6 + 0.5)`` BIGINT micro-units, printed
  at 6 dp), plain sums and means are rounded (2-4 dp);
- timestamps emitted as formatted strings;
- integer sums cast to bigint on both sides (DuckDB promotes to
  HUGEINT).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check


QUERIES: dict[str, QuerySpec] = {}

# Benchmark set: representative, scale-sensitive queries (bench.py)
HEADLINE_QUERIES: list[str] = []

# Session confs every query needs regardless of who built the
# SparkSession (the driver's harness session won't have run our
# session.py factory): UTC so timestamp formatting/window alignment
# agrees with the DuckDB oracle, nanosAsLong so the events table's
# TIMESTAMP(NANOS) parquet column is readable at all. Both are
# runtime SQL confs, safe to set on a live session.
_REQUIRED_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def ensure_session_confs(spark: SparkSession) -> None:
    for k, v in _REQUIRED_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            spark.conf.set(k, v)


def register(name: str, oracle: str | None = None, headline: bool = False):
    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_session_confs(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        if name in QUERIES:
            # a silent overwrite re-binds a historically driver-green
            # name to different semantics — caught live in r6 when a
            # new query collided with the round-2 length histogram
            raise ValueError(f"duplicate query registration: {name!r}")
        QUERIES[name] = QuerySpec(wrapped, oracle)
        if headline:
            HEADLINE_QUERIES.append(name)
        return fn

    return deco
