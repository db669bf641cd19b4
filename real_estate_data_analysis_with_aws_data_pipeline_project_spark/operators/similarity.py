"""Vector-similarity kernels ([ext] — SURVEY.md §2.11).

Cosine similarity as pure Catalyst array expressions (zip_with +
aggregate fold, all JVM-side, no Python) with mirrored DuckDB SQL
builders. Floats are cast to double element-wise and folded
left-to-right in both engines; emitted cosines are rounded to 6 dp so
any last-ulp fold divergence cannot flip the value hash.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def norm_sql(a: str) -> str:
    return f"sqrt({dot_sql(a, a)})"


def cosine(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """Cosine from a precomputed-norm pair (norms computed once per
    vector, not once per pair — the O(n·k) saving that matters when
    one vector joins against millions)."""
    return F.when(
        (norm_a > 0) & (norm_b > 0), dot(a, b) / (norm_a * norm_b)
    ).otherwise(F.lit(0.0))


def cosine_sql(a: str, b: str, norm_a: str, norm_b: str) -> str:
    return (
        f"CASE WHEN {norm_a} > 0 AND {norm_b} > 0 "
        f"THEN {dot_sql(a, b)} / ({norm_a} * {norm_b}) ELSE 0.0 END"
    )


def lsh_planes(n_planes: int, dim: int, seed: int = 123) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes for sign-LSH, rounded to 4 dp
    so the SAME literal matrix is embedded in the Spark expression and
    the DuckDB oracle (identical text → identical IEEE arithmetic →
    identical sign bits). Axis-aligned sign bits were measured at 0.04
    recall@5 on the near-isotropic synthetic embeddings (sf0.1);
    seeded Gaussian projections reach 0.62 at 12 tables × 6 bits."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return [[round(float(w), 4) for w in row] for row in rng.standard_normal((n_planes, dim))]


def project_signs(a: Column, planes: list[list[float]]) -> Column:
    """Bit string of sign(plane · vector) for every hyperplane — the
    multi-table LSH signature (tables slice disjoint ranges of it).

    Deliberately UNROLLED per plane: a nested-lambda alternative
    (transform over one array<array<double>> literal) was measured
    ~6× slower to analyze/compile (2.9 s vs 0.5 s steady) — nested
    higher-order lambdas defeat subexpression handling. The expression
    is large (planes×dim literal leaves), so callers must evaluate it
    ONCE into a persisted signature relation (see similarity_ann_lsh's
    session-cached ``v``) rather than letting it replicate into every
    plan branch."""
    bits = []
    for row in planes:
        w = F.array(*[F.lit(x) for x in row])
        d = F.aggregate(
            F.zip_with(a, w, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(d >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def project_signs_sql(a: str, planes: list[list[float]]) -> str:
    # list_dot_product is a native sequential loop — same left-to-right
    # double accumulation as the Spark fold (verified bit-identical),
    # ~120x faster than the list_transform formulation
    parts = []
    for row in planes:
        w = "[" + ", ".join(repr(x) for x in row) + "]"
        d = f"list_dot_product(CAST({a} AS DOUBLE[]), {w})"
        parts.append(f"(CASE WHEN {d} >= 0 THEN '1' ELSE '0' END)")
    return "(" + " || ".join(parts) + ")"


def project_signs_pandas(col: str, planes: list[list[float]]) -> Column:
    """Arrow-batched twin of ``project_signs`` for the one-pass
    signature build: vectorized with numpy across rows AND planes, but
    accumulated DIMENSION BY DIMENSION so every (row, plane) dot
    product performs the identical left-to-right float64 addition chain
    as the Catalyst fold and DuckDB's list_dot_product —
    ``acc += v[dim] * w[dim]`` in dim order is exactly
    ``(((0+x0)+x1)+...)``. Bit-identical signs, ~10× the throughput of
    the interpreted 96-aggregate expression (measured 13 s → ~2 s for
    the 60k-vector sf0.1 build)."""
    from ._argmax_udf import make_signs_udf

    return make_signs_udf(planes)(col)

