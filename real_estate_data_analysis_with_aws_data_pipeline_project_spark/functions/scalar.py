"""Scalar column-expression helpers (SURVEY.md §2.7, §2.9).

The reference implements these as row-at-a-time Python inside its
Lambdas; here every one is a native Catalyst column expression — no
Python UDF in the hot path, so whole-stage codegen applies.

Reference parity:
- ``safe_int`` (CensusDataFetch.py:45-50): tolerant int parse with a
  ``<= -999999`` sentinel mapped to null → ``safe_int_expr`` /
  ``sentinel_to_null``.
- ratio-of-sums metrics with null/zero-safe denominators
  (CensusDataFetch.py:52-63) → ``null_safe_ratio`` / ``pct_of_total``.
- deterministic sampling order (real_estate_etl_job.py:113 uses
  ``rand(seed=42)``, which is partitioning-dependent and not
  reproducible across engines) → ``deterministic_order_key``: md5 of
  the primary key, identical in Spark and any ANSI-SQL oracle, stable
  under any partitioning/cluster size.

SQL-text owners, valid in both Spark and DuckDB, so each cross-engine
rule has one spelling:
- ``micro_units_sql`` / ``micro6_sql``: THE micro-unit rounding rule,
  ``floor(x·1e6 + 0.5)`` as BIGINT micro-units and the same printed at
  6 dp. Every Spark-side quantization calls them;
  ``entropy_term_micro_sql`` builds the Shannon term from them.
- ``split_a_sql`` (twin of ``split_is_a``): the md5 hash-split rule.
- ``hex_chunk_int_sql``: the md5-hex → integer decode.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SENTINEL_FLOOR = -999999


def sentinel_to_null(col: Column | str, floor: int = SENTINEL_FLOOR) -> Column:
    """Census-style sentinel normalization: values <= floor become null
    (CensusDataFetch.py:45-50 maps -666666666-style markers to None)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c <= F.lit(floor), F.lit(None)).otherwise(c)


def safe_int_expr(col: Column | str, floor: int = SENTINEL_FLOOR) -> Column:
    """Tolerant int parse + sentinel→null. Non-numeric strings become
    null via try-cast semantics (cast returns null on failure)."""
    c = F.col(col) if isinstance(col, str) else col
    as_int = c.cast("int")
    return F.when(as_int <= F.lit(floor), F.lit(None).cast("int")).otherwise(as_int)


def null_safe_ratio(num: Column, den: Column, scale: int = 2) -> Column:
    """num/den with a zero/null-safe denominator: null when den is null
    or zero (the reference guards with ``or 1`` defaults —
    CensusDataFetch.py:59,63 — we prefer null over a silently wrong 0/1
    denominator; callers can coalesce). Also null when the quotient
    overflows to ±inf (subnormal denominators — found by the
    property-based tests), so downstream aggregates never see
    non-finite values."""
    q = F.try_divide(num, den)  # null (not ANSI error) on zero divisor
    finite = q.isNotNull() & ~F.isnan(q) & (F.abs(q) != float("inf"))
    return F.when(finite, F.round(q, scale))


def pct_of_total(parts: list[Column], total: Column, scale: int = 1) -> Column:
    """Ratio-of-sums percentage: 100 * (a+b+...)/total, rounded —
    the college-% / unemployment-rate formula shape
    (CensusDataFetch.py:52-63)."""
    s = parts[0]
    for p in parts[1:]:
        s = s + p
    return F.when(total.isNotNull() & (total != 0), F.round(100.0 * s / total, scale))


def deterministic_order_key(col: Column | str) -> Column:
    """Engine-portable pseudo-random order key: md5 hex of the key's
    string form. Used for deterministic stratified sampling so the
    DuckDB oracle (``md5(cast(k as varchar))``) sorts identically."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c.cast("string").cast("binary"))


def split_is_a(col: Column | str) -> Column:
    """THE Spark-side md5 hash-split predicate (variant 'a' ⟺ first
    md5 byte < 0x80) — the twin of the experiment family's oracle
    fragment ``_SPLIT_A_SQL`` (queries_events). One definition on
    each side so a split-rule change (threshold, salt, hash) can
    never fork the family (r12 third review: the oracle side was
    unified but four Spark copies remained)."""
    return F.substring(deterministic_order_key(col), 1, 2) < "80"


def split_a_sql(col: str) -> str:
    """Oracle-side (SQL-text) spelling of THE md5 hash-split
    predicate for an arbitrary key column — the parameterized twin
    of ``split_is_a``; ``queries_events._SPLIT_A_SQL`` is exactly
    this at col='user_id', so both engines keep ONE rule (r16
    review: the IPF raking oracle had re-created a hand copy)."""
    return f"substr(md5(CAST({col} AS VARCHAR)), 1, 2) < '80'"


def hex_chunk_int_sql(h: str, width: int, fn: str = "strpos") -> str:
    """Base-16 positional decode of the first ``width`` hex chars of
    expression ``h`` as ONE SQL string usable in either engine
    (DuckDB spells position() ``strpos``/``instr``, Spark ``instr``) —
    the single definition of the md5-hex → integer parse (r11 review:
    four hand copies had accumulated across the REST oracle, the
    global-shuffle shard key, feature hashing, and the DP mechanism).
    Each digit term casts to BIGINT before the power-of-16 multiply so
    no engine's narrow-int arithmetic can overflow; width ≤ 15 keeps
    the total under 2⁶³. ValueError (not assert — stripped under -O)
    because an out-of-range width silently overflows BIGINT."""
    if not 1 <= width <= 15:
        raise ValueError(f"hex_chunk_int_sql width must be in [1, 15], got {width}")
    return "(" + " + ".join(
        f"CAST({fn}('0123456789abcdef', substr({h}, {i + 1}, 1)) - 1"
        f" AS BIGINT) * {16 ** (width - 1 - i)}"
        for i in range(width)
    ) + ")"


def micro_units_sql(x: str) -> str:
    """``x`` quantized to BIGINT micro-units, ``floor(x·1e6 + 0.5)``,
    as SQL text valid in both Spark and DuckDB — THE cross-engine
    rounding rule. ``round(x, 6)`` on a double is itself a
    cross-engine channel (Spark rounds HALF_UP on the shortest decimal
    repr, DuckDB rounds the binary value), while floor of an
    exactly-rounded IEEE product is deterministic everywhere except a
    measure-zero boundary. ``x`` is spliced as is, so an ``x`` whose
    top-level operator binds looser than ``*`` (binary ``+``/``-``)
    must come parenthesized. The result is NULL when ``x`` is NULL;
    it fits int64 for ``|x| < 9.2e12``."""
    return f"CAST(floor({x} * 1000000e0 + 0.5e0) AS BIGINT)"


def micro6_sql(x: str) -> str:
    """``x`` in micro-units (``micro_units_sql``) printed at 6 decimal
    places: the DOUBLE every oracle-hashed micro-unit column carries."""
    return f"round({micro_units_sql(x)} / 1000000e0, 6)"


def entropy_term_micro_sql(n: str, tot: str) -> str:
    """-p·log2(p) integerized to BIGINT micro units (p = n/tot) — ONE
    definition of the Shannon term for every entropy query in either
    engine (r10 review: four hand copies had accumulated; moved here
    from queries_events in r15 so any query module can use it without
    importing another query module). Both the libm log2 and the term
    are quantized by ``micro_units_sql``, not round(x, 6) (the exact
    1-micro class the first sf0.001 entropy sweep caught)."""
    p = f"(CAST({n} AS DOUBLE) / {tot})"
    lg = f"({micro_units_sql(f'log2({p})')} / 1000000e0)"
    return micro_units_sql(f"-{p} * {lg}")
