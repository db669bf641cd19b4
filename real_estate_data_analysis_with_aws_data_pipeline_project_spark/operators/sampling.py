"""Stratified sampling (SURVEY.md §2.5 W1/W2).

Reference: ``real_estate_etl_job.py:107-115`` — exactly-N-per-group
sample via ``row_number() over (partition by state order by
rand(seed=42))`` then ``rn <= 100``.

Spark-first redesign: ``rand(seed)`` is only stable for a fixed
partitioning, so the reference's "deterministic" sample silently
changes when the cluster size changes. The canonical form here orders
by an engine-portable hash of the primary key
(``deterministic_order_key``): same sample on 1 core or 1000
executors, and reproducible by the SQL oracle. ``rand(seed)`` is kept
as a parity alias.

Scale note: one shuffle on the strata key; per-group state is a single
row_number counter, so this holds at 100 TB as long as no single
stratum exceeds a task's data (for pathological single-stratum data,
pre-aggregate with a salted two-level top-N).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalar import deterministic_order_key


def stratified_sample_deterministic(
    df: DataFrame, strata_col: str, key_col: str, n_per_group: int
) -> DataFrame:
    """Exactly min(N, |group|) rows per stratum, deterministic across
    engines and partitionings. Order = md5(key) with the key itself as
    tiebreaker (md5 is injective for distinct keys, tiebreak is belt
    and braces)."""
    w = Window.partitionBy(strata_col).orderBy(
        deterministic_order_key(key_col), F.col(key_col)
    )
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_per_group)
        .drop("rn")
    )


def stratified_sample_seeded(
    df: DataFrame, strata_col: str, n_per_group: int, seed: int = 42
) -> DataFrame:
    """Parity alias for the reference's rand(seed) ordering
    (real_estate_etl_job.py:113-114). Deterministic only for a fixed
    partitioning — prefer the deterministic variant."""
    w = Window.partitionBy(strata_col).orderBy(F.rand(seed))
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_per_group)
        .drop("rn")
    )

