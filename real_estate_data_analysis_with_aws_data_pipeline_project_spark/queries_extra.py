"""Surface-completion extras: JSON column functions, explode/unnest,
exact+approx percentiles, correlated scalar subqueries (SURVEY.md §2.7
'absent' scalar categories + §2.4 quantiles).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .functions.scalar import micro6_sql, micro_units_sql
from .operators import text as X
from .registry import register
from .session import local_frame
from .sources.catalog import load_table


@register(
    "json_extract_props",
    """
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
    FROM events
    """,
)
def json_extract_props(spark, sf_dir):
    """JSON scalar functions over the events.props string column
    (semi-structured payloads ride along as JSON text; extraction is
    a per-row expression, no Python)."""
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_value"),
    )


@register(
    "json_schema_on_read",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
               AS total_k
    FROM events GROUP BY event_type
    """,
)
def json_schema_on_read(spark, sf_dir):
    """from_json with a declared schema (the scalable path: parse once
    into a typed struct, then aggregate JVM-side)."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.withColumn("p", F.from_json("props", "k BIGINT"))
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("p.k")).cast("bigint").alias("total_k"),
    )


@register(
    "variant_shred_props",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS min_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS max_k,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k
    FROM events GROUP BY event_type
    """,
)
def variant_shred_props(spark, sf_dir):
    """Spark 4 VARIANT path for semi-structured payloads: parse_json
    into the binary VARIANT encoding once, then typed try_variant_get
    extraction feeding a JVM-side aggregate. Unlike get_json_object
    (string re-parse per access) or from_json (rigid schema), VARIANT
    keeps open schema AND columnar-friendly binary shredding — at
    100 TB the parse cost is paid once per ingest, not once per query
    access path."""
    ev = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.min("k").cast("bigint").alias("min_k"),
            F.max("k").cast("bigint").alias("max_k"),
            F.sum("k").cast("bigint").alias("sum_k"),
        )
    )


@register(
    "explode_top_tokens",
    f"""
    SELECT token, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT unnest({X.tokens_sql()}) AS token FROM documents)
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 10
    """,
)
def explode_top_tokens(spark, sf_dir):
    """explode ≙ UNNEST: token frequency top-10 across the corpus —
    the tf building block (explode → groupBy count → top-k)."""
    docs = load_table(spark, sf_dir, "documents")
    # generator input INLINE (r17): exploding an aliased computed
    # column lets InferFiltersFromGenerate push an interpreted
    # size(toks) > 0 filter below the projection, re-tokenizing every
    # document before the Generate tokenizes it again (the
    # dedup_repeated_substrings 17 s precedent — see queries_dedup).
    return (
        docs.select(F.explode(X.tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(10)
    )


@register(
    "agg_percentiles",
    """
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           abs(approx_quantile(o_totalprice, 0.5) -
               quantile_cont(o_totalprice, 0.5))
               <= 0.10 * quantile_cont(o_totalprice, 0.5) AS approx_p50_close
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_percentiles(spark, sf_dir):
    """Exact interpolated percentiles (Spark `percentile` ≙ DuckDB
    quantile_cont) + approximate-quantile sketch checked via its
    accuracy envelope (sketches differ across engines)."""
    exact_p50 = F.expr("percentile(o_totalprice, 0.5)")
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.round(exact_p50, 4).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
            (
                F.abs(F.percentile_approx("o_totalprice", 0.5) - exact_p50)
                <= 0.10 * exact_p50
            ).alias("approx_p50_close"),
        )
    )


@register(
    "subquery_scalar_correlated",
    """
    SELECT p_partkey, p_brand, round(p_retailprice, 2) AS retail_price
    FROM part p
    WHERE p_retailprice > 1.2 * (
        SELECT avg(p2.p_retailprice) FROM part p2 WHERE p2.p_brand = p.p_brand
    )
    """,
)
def subquery_scalar_correlated(spark, sf_dir):
    """Correlated scalar subquery (price > 1.2× its brand's average).
    Spark plans the decorrelated form explicitly here — a window
    average over the brand partition — which is also how Catalyst
    rewrites the SQL; one shuffle on p_brand, no per-row subquery."""
    from pyspark.sql import Window

    w = Window.partitionBy("p_brand")
    return (
        load_table(spark, sf_dir, "part")
        .withColumn("brand_avg", F.avg("p_retailprice").over(w))
        .filter(F.col("p_retailprice") > 1.2 * F.col("brand_avg"))
        .select(
            "p_partkey",
            "p_brand",
            F.round("p_retailprice", 2).alias("retail_price"),
        )
    )


@register(
    "subquery_exists_agg",
    """
    SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
    )
    GROUP BY o.o_orderpriority
    """,
)
def subquery_exists_agg(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS with a cross-table predicate → semi-join
    on the pre-filtered pair set, then aggregate."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    matched = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .select("o_orderkey")
        .distinct()
    )
    return (
        o.join(matched, "o_orderkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


@register(
    "set_union_by_name",
    """
    SELECT o_custkey AS cust_key, 'open' AS bucket FROM orders
    WHERE o_orderstatus = 'O'
    UNION ALL
    SELECT o_custkey AS cust_key, 'done' AS bucket FROM orders
    WHERE o_orderstatus = 'F'
    """,
)
def set_union_by_name(spark, sf_dir):
    """unionByName: schema-evolution-tolerant union — columns align by
    name even when the projections emit them in different orders."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("cust_key"), F.lit("open").alias("bucket")
    )
    b = orders.filter(F.col("o_orderstatus") == "F").select(
        F.lit("done").alias("bucket"), F.col("o_custkey").alias("cust_key")
    )
    return a.unionByName(b)


@register(
    "set_intersect_except_all",
    """
    WITH i AS (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        INTERSECT ALL
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    ),
    x AS (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        EXCEPT ALL
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    )
    SELECT 'intersect_all' AS op, CAST(count(*) AS BIGINT) AS n FROM i
    UNION ALL
    SELECT 'except_all' AS op, CAST(count(*) AS BIGINT) AS n FROM x
    """,
)
def set_intersect_except_all(spark, sf_dir):
    """Multiset set-ops (INTERSECT ALL / EXCEPT ALL keep duplicate
    multiplicities, unlike their distinct forms)."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    ia = a.intersectAll(b).agg(F.count("*").alias("n")).select(
        F.lit("intersect_all").alias("op"), "n"
    )
    xa = a.exceptAll(b).agg(F.count("*").alias("n")).select(
        F.lit("except_all").alias("op"), "n"
    )
    return ia.unionByName(xa)


@register(
    "f_date_functions_2",
    """
    SELECT o_orderkey,
           round(CAST(date_diff('day', DATE '1995-06-15',
                 CAST(o_orderdate AS DATE)) AS DOUBLE) / 30.4375, 4) + 0.0
               AS approx_months,
           strftime(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH, '%Y-%m-%d')
               AS plus_3_months,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d')
               AS month_end,
           CAST(dayofweek(CAST(o_orderdate AS DATE)) AS INT) AS dow,
           CAST(quarter(o_orderdate) AS INT) AS qtr
    FROM orders
    """,
)
def f_date_functions_2(spark, sf_dir):
    """Date surface batch 2: add_months, last_day, day-of-week,
    quarter, and a day-based month-distance (months_between's engine
    semantics differ around month ends, so the portable form divides
    day deltas)."""
    d = F.to_date("o_orderdate")
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(
            F.datediff(d, F.lit("1995-06-15").cast("date")).cast("double")
            / 30.4375,
            4,
        ).alias("approx_months"),
        F.date_format(F.add_months(d, 3), "yyyy-MM-dd").alias("plus_3_months"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        (F.dayofweek(d) - 1).cast("int").alias("dow"),
        F.quarter(d).cast("int").alias("qtr"),
    )


@register(
    "scd2_merge_emulation",
    """
    WITH updates AS (
        SELECT c_custkey, 'RELOCATED' AS new_segment
        FROM customer WHERE c_custkey % 10 = 0
    ),
    unchanged AS (
        SELECT c.c_custkey, c.c_mktsegment AS segment,
               1 AS version, true AS is_current
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM updates u
                          WHERE u.c_custkey = c.c_custkey)
    ),
    closed AS (
        SELECT c.c_custkey, c.c_mktsegment AS segment,
               1 AS version, false AS is_current
        FROM customer c
        JOIN updates u ON u.c_custkey = c.c_custkey
    ),
    fresh AS (
        SELECT u.c_custkey, u.new_segment AS segment,
               2 AS version, true AS is_current
        FROM updates u
    )
    SELECT * FROM unchanged
    UNION ALL SELECT * FROM closed
    UNION ALL SELECT * FROM fresh
    """,
)
def scd2_merge_emulation(spark, sf_dir):
    """MERGE INTO / SCD2 without Delta (guide 'CDC / SCD2' pattern):
    anti-join keeps untouched rows current, the semi-joined old
    versions close (is_current=false), updates append as version 2.
    Three branches over one dim scan + a broadcast of the update set —
    at warehouse scale this is the per-batch CDC apply job."""
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    updates = (
        customer.filter(F.col("c_custkey") % 10 == 0)
        .select("c_custkey", F.lit("RELOCATED").alias("new_segment"))
    )
    upd_keys = updates.select("c_custkey")
    unchanged = (
        customer.join(F.broadcast(upd_keys), "c_custkey", "left_anti")
        .select(
            "c_custkey",
            F.col("c_mktsegment").alias("segment"),
            F.lit(1).alias("version"),
            F.lit(True).alias("is_current"),
        )
    )
    closed = (
        customer.join(F.broadcast(upd_keys), "c_custkey", "left_semi")
        .select(
            "c_custkey",
            F.col("c_mktsegment").alias("segment"),
            F.lit(1).alias("version"),
            F.lit(False).alias("is_current"),
        )
    )
    fresh = updates.select(
        "c_custkey",
        F.col("new_segment").alias("segment"),
        F.lit(2).alias("version"),
        F.lit(True).alias("is_current"),
    )
    return unchanged.unionByName(closed).unionByName(fresh)


@register(
    "sample_fraction_envelope",
    """
    SELECT true AS within_5_sigma
    """,
)
def sample_fraction_envelope(spark, sf_dir):
    """Bernoulli df.sample: RNG streams differ across engines, so the
    checkable claim is statistical — the sampled fraction lands within
    5σ of p (binomial bound). The oracle is the constant the invariant
    must evaluate to."""
    import math

    p = 0.2
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.select(
        F.count("*").alias("total"),
    ).collect()[0]
    n_total = counts.total
    n_sample = li.sample(fraction=p, seed=42).count()
    sigma = math.sqrt(p * (1 - p) * n_total)
    ok = abs(n_sample - p * n_total) <= 5 * sigma
    return local_frame(spark, [(ok,)], "within_5_sigma boolean")


@register(
    "f_array_functions",
    f"""
    SELECT doc_id,
           array_to_string(list_sort(list_distinct({X.tokens_sql()}))[1:5], ',')
               AS first_tokens,
           CAST(len(list_distinct({X.tokens_sql()})) AS BIGINT) AS n_distinct_tokens,
           list_contains({X.tokens_sql()}, 'data') AS has_data,
           ({X.tokens_sql()})[1] AS first_token
    FROM documents WHERE doc_id < 200
    """,
)
def f_array_functions(spark, sf_dir):
    """Array-function surface: sort, distinct, slice, join, contains,
    element access over the token arrays (ArrayType as a first-class
    value — absent in the reference's flat model, SURVEY §1.2). The
    sliced array is emitted string-joined so the oracle hash never
    depends on engine-specific array stringification."""
    toks = X.tokens()
    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select(
            "doc_id",
            F.array_join(
                F.slice(F.array_sort(F.array_distinct(toks)), 1, 5), ","
            ).alias("first_tokens"),
            F.size(F.array_distinct(toks)).cast("bigint").alias(
                "n_distinct_tokens"
            ),
            F.array_contains(toks, "data").alias("has_data"),
            F.element_at(toks, 1).alias("first_token"),
        )
    )


@register(
    "f_regexp_extract",
    """
    SELECT c_custkey,
           regexp_extract(c_name, '#(0*)([1-9][0-9]*)', 2) AS id_digits,
           regexp_matches(c_name, '^Customer#[0-9]+$') AS well_formed
    FROM customer
    """,
)
def f_regexp_extract(spark, sf_dir):
    """regexp_extract group capture + full-match predicate
    (rlike ≙ regexp_matches)."""
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.regexp_extract("c_name", "#(0*)([1-9][0-9]*)", 2).alias("id_digits"),
        F.col("c_name").rlike("^Customer#[0-9]+$").alias("well_formed"),
    )


# --- exact grouped median (round 9) ------------------------------------------

_EXACT_MEDIAN_ORACLE = """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(median(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                 / 100.0, 4) AS median_price
    FROM orders GROUP BY 1
"""


def _order_cents(spark, sf_dir, *cols):
    """(o_orderpriority, cents, ``cols``) over orders: the total price
    as exact integer cents, the unit of every per-priority order
    statistic."""
    return load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("bigint")
        .alias("cents"),
        *cols,
    )


def _ranked_order_cents(spark, sf_dir):
    """(o_orderpriority, cents, rn, n): each order's 1-based rank in
    its priority under the (cents, o_orderkey) total order, and the
    priority's order count — the per-group sort of the exact order
    statistics."""
    from pyspark.sql import Window

    o = _order_cents(spark, sf_dir, "o_orderkey")
    w = Window.partitionBy("o_orderpriority").orderBy("cents", "o_orderkey")
    return o.select(
        "o_orderpriority",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count("*")
        .over(Window.partitionBy("o_orderpriority"))
        .alias("n"),
    )


@register("agg_exact_group_median", _EXACT_MEDIAN_ORACLE)
def agg_exact_group_median(spark, sf_dir):
    """EXACT per-group median (not percentile_approx): rank each
    group's values once (row_number over (value, key) — the
    deterministic total order), keep only the one or two middle ranks
    ((n+1) div 2 and (n+2) div 2), and average them in integer cents —
    the classic two-pass exact order statistic, verified against
    DuckDB's native median(). The ROWS the rank selects are identical
    in both engines because the order is total; the middle-pair mean
    of integer cents is one exact small-rational division.

    Scale: the per-group sort is the documented exact-order-statistics
    trade (same as features_equidepth_bins); everything after the rank
    filter lives on <= 2 rows per group. percentile_approx /
    sketch_kll_quantile_rollup are the sketch tier when exactness can
    be traded for one pass."""
    ranked = _ranked_order_cents(spark, sf_dir)
    mid = ranked.where(
        (F.col("rn") == F.expr("(n + 1) div 2"))
        | (F.col("rn") == F.expr("(n + 2) div 2"))
    )
    return mid.groupBy("o_orderpriority").agg(
        F.max("n").cast("bigint").alias("n_orders"),
        F.round(
            F.avg(F.col("cents").cast("double")) / 100.0, 4
        ).alias("median_price"),
    )


# --- exact grouped mode (round 9) --------------------------------------------

_EXACT_MODE_ORACLE = """
    WITH c AS (
        SELECT c_mktsegment, c_nationkey,
               CAST(count(*) AS BIGINT) AS n
        FROM customer GROUP BY 1, 2
    ),
    r AS (
        SELECT *, row_number() OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY n DESC, c_nationkey
               ) AS rk
        FROM c
    )
    SELECT c_mktsegment, c_nationkey AS mode_nation, n AS n_rows
    FROM r WHERE rk = 1
"""


@register("agg_exact_group_mode", _EXACT_MODE_ORACLE)
def agg_exact_group_mode(spark, sf_dir):
    """EXACT per-group mode with a deterministic tie-break (max count,
    then smallest value): the most common nation per market segment.
    Spark ships a `mode` aggregate but leaves ties implementation-
    defined, so this uses the portable two-level form — count to the
    (group, value) grain, then a rank-1 pick under the explicit
    (count desc, value asc) order, which both engines execute
    identically.

    Scale: the count partial-aggregates map-side to the
    (group, value) grain; the rank window runs on that grain — value-
    cardinality-bounded, never the row count. WindowGroupLimit
    compacts the rk = 1 filter into a per-partition top-1."""
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer").groupBy(
        "c_mktsegment", "c_nationkey"
    ).agg(F.count("*").cast("bigint").alias("n"))
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("n"), "c_nationkey"
    )
    return (
        c.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "c_mktsegment",
            F.col("c_nationkey").alias("mode_nation"),
            F.col("n").alias("n_rows"),
        )
    )


# --- exact grouped p25/p75/IQR (round 9, late batch) ------------------------

_EXACT_PCTL_ORACLE = """
    WITH o AS (
        SELECT o_orderpriority,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderkey
        FROM orders
    ),
    r AS (
        SELECT o_orderpriority, cents,
               row_number() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY cents, o_orderkey
               ) AS rn,
               count(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM o
    ),
    p AS (
        SELECT o_orderpriority,
               CAST(max(n) AS BIGINT) AS n_orders,
               max(CASE WHEN rn = (n + 3) // 4 THEN cents END) AS c25,
               max(CASE WHEN rn = (3 * n + 3) // 4 THEN cents END) AS c75
        FROM r
        WHERE rn = (n + 3) // 4 OR rn = (3 * n + 3) // 4
        GROUP BY 1
    )
    SELECT o_orderpriority, n_orders,
           round(CAST(c25 AS DOUBLE) / 100.0, 2) AS p25_price,
           round(CAST(c75 AS DOUBLE) / 100.0, 2) AS p75_price,
           round(CAST(c75 - c25 AS DOUBLE) / 100.0, 2) AS iqr_price
    FROM p
"""


@register("agg_exact_group_percentiles", _EXACT_PCTL_ORACLE)
def agg_exact_group_percentiles(spark, sf_dir):
    """EXACT per-group quartiles + interquartile range (the spread
    companion to agg_exact_group_median): rank each group's order
    totals once under the (cents, key) total order, pick the
    percentile_disc-style ranks ceil(n/4) = (n+3) div 4 and
    ceil(3n/4) = (3n+3) div 4, and difference them in integer cents.
    The picked ROWS are identical in both engines because the order is
    total; every derived number is integer cents until one exact /100.

    Scale: same per-group-sort trade as the exact median; everything
    after the two-rank filter lives on <= 2 rows per group.
    sketch_kll_quantile_rollup is the one-pass sketch tier for when
    exactness can be traded."""
    ranked = _ranked_order_cents(spark, sf_dir)
    is25 = F.col("rn") == F.expr("(n + 3) div 4")
    is75 = F.col("rn") == F.expr("(3 * n + 3) div 4")
    p = (
        ranked.where(is25 | is75)
        .groupBy("o_orderpriority")
        .agg(
            F.max("n").cast("bigint").alias("n_orders"),
            F.max(F.when(is25, F.col("cents"))).alias("c25"),
            F.max(F.when(is75, F.col("cents"))).alias("c75"),
        )
    )
    return p.select(
        "o_orderpriority",
        "n_orders",
        F.round(F.col("c25").cast("double") / 100.0, 2).alias("p25_price"),
        F.round(F.col("c75").cast("double") / 100.0, 2).alias("p75_price"),
        F.round((F.col("c75") - F.col("c25")).cast("double") / 100.0, 2)
            .alias("iqr_price"),
    )


# --- histogram-bucket approximate quartiles (round 10) ----------------------
#
# The deterministic one-pass twin of agg_exact_group_percentiles
# (VERDICT r9 #7b): quantize cents into fixed $100 buckets, aggregate
# the per-(group, bucket) histogram map-side, and read the quartiles
# off the bucket CDF. Error is bounded by construction — the rank-r
# element lies inside the first bucket whose cumulative count reaches
# r, so bucket_floor <= exact < bucket_floor + width — and, unlike a
# KLL/GK sketch, the answer is a pure function of the data (no sketch
# randomness, no merge-order sensitivity), which is what makes a full
# cross-engine value oracle possible. sketch_kll_quantile_rollup is
# the sketch-library tier when the value domain is unbounded.

_HIST_BUCKET_CENTS = 10_000  # $100 buckets

_HIST_PCTL_ORACLE = f"""
    WITH o AS (
        SELECT o_orderpriority,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    b AS (
        SELECT o_orderpriority,
               cents // {_HIST_BUCKET_CENTS} AS b,
               CAST(count(*) AS BIGINT) AS c
        FROM o GROUP BY 1, 2
    ),
    r AS (
        SELECT o_orderpriority, b, c,
               sum(c) OVER (
                   PARTITION BY o_orderpriority ORDER BY b
               ) AS cw,
               sum(c) OVER (PARTITION BY o_orderpriority) AS n,
               count(*) OVER (PARTITION BY o_orderpriority) AS nb
        FROM b
    ),
    p AS (
        SELECT o_orderpriority,
               CAST(max(n) AS BIGINT) AS n_orders,
               CAST(max(nb) AS BIGINT) AS n_buckets,
               CAST(min(CASE WHEN cw >= (n + 3) // 4 THEN b END)
                    AS BIGINT) AS b25,
               CAST(min(CASE WHEN cw >= (3 * n + 3) // 4 THEN b END)
                    AS BIGINT) AS b75
        FROM r GROUP BY 1
    )
    SELECT o_orderpriority, n_orders, n_buckets,
           round(CAST(b25 * {_HIST_BUCKET_CENTS} AS DOUBLE) / 100.0, 2)
               AS p25_floor_price,
           round(CAST(b75 * {_HIST_BUCKET_CENTS} AS DOUBLE) / 100.0, 2)
               AS p75_floor_price
    FROM p
"""


@register("agg_histogram_group_percentiles", _HIST_PCTL_ORACLE)
def agg_histogram_group_percentiles(spark, sf_dir):
    """Approximate per-group quartiles from a fixed-width histogram:
    the one-pass, bounded-state alternative to the full per-group sort
    in agg_exact_group_percentiles. Prices quantize to $100 buckets;
    the per-(group, bucket) counts partial-aggregate map-side; the
    quartile is the floor of the first bucket whose cumulative count
    reaches the percentile_disc rank, so it underestimates the exact
    quartile by less than one bucket width (the invariant test checks
    0 <= exact - approx < $100 per group). Deterministic by
    construction — the histogram is a pure function of the data, with
    none of a KLL/GK sketch's randomness or merge-order sensitivity —
    so the whole row carries a cross-engine value oracle.

    Scale: THE trade this pair documents for 100 TB — the exact twin
    shuffles every row into a per-group sort, this one shuffles at
    most |groups| x |buckets| partial rows after map-side combine; the
    CDF walk runs on the bucket grain (metadata-scale). Width tunes
    the error bound against state size; sketch_kll_quantile_rollup
    covers unbounded domains where fixed buckets can't."""
    from pyspark.sql import Window

    o = _order_cents(spark, sf_dir)
    b = o.groupBy(
        "o_orderpriority",
        F.expr(f"cents div {_HIST_BUCKET_CENTS}").alias("b"),
    ).agg(F.count("*").cast("bigint").alias("c"))
    w = Window.partitionBy("o_orderpriority").orderBy("b")
    r = b.select(
        "o_orderpriority",
        "b",
        F.sum("c").over(w).alias("cw"),
        F.sum("c")
        .over(Window.partitionBy("o_orderpriority"))
        .alias("n"),
        F.count("*")
        .over(Window.partitionBy("o_orderpriority"))
        .alias("nb"),
    )
    p = r.groupBy("o_orderpriority").agg(
        F.max("n").cast("bigint").alias("n_orders"),
        F.max("nb").cast("bigint").alias("n_buckets"),
        F.min(
            F.when(F.col("cw") >= F.expr("(n + 3) div 4"), F.col("b"))
        )
        .cast("bigint")
        .alias("b25"),
        F.min(
            F.when(
                F.col("cw") >= F.expr("(3 * n + 3) div 4"), F.col("b")
            )
        )
        .cast("bigint")
        .alias("b75"),
    )
    return p.select(
        "o_orderpriority",
        "n_orders",
        "n_buckets",
        F.round(
            (F.col("b25") * _HIST_BUCKET_CENTS).cast("double") / 100.0, 2
        ).alias("p25_floor_price"),
        F.round(
            (F.col("b75") * _HIST_BUCKET_CENTS).cast("double") / 100.0, 2
        ).alias("p75_floor_price"),
    )


# --- exact weighted median (round 9, late batch 2) --------------------------

_WMEDIAN_ORACLE = """
    WITH l AS (
        SELECT l_returnflag,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
               CAST(round(l_quantity) AS BIGINT) AS w,
               l_orderkey, l_linenumber
        FROM lineitem
    ),
    r AS (
        SELECT l_returnflag, cents, w,
               sum(w) OVER (
                   PARTITION BY l_returnflag
                   ORDER BY cents, l_orderkey, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cw,
               sum(w) OVER (PARTITION BY l_returnflag) AS t
        FROM l
    ),
    pick AS (
        SELECT l_returnflag,
               CAST(max(t) AS BIGINT) AS total_weight,
               CAST(min(CASE WHEN 2 * cw >= t THEN cents END) AS BIGINT)
                   AS med_cents
        FROM r GROUP BY 1
    )
    SELECT l_returnflag, total_weight,
           round(CAST(med_cents AS DOUBLE) / 100.0, 2) AS w_median_price
    FROM pick
"""


@register("agg_exact_weighted_median", _WMEDIAN_ORACLE)
def agg_exact_weighted_median(spark, sf_dir):
    """EXACT quantity-weighted median line price per return flag: sort
    each group under the (cents, orderkey, linenumber) total order,
    accumulate integer weights, and pick the first value whose
    cumulative weight reaches half the total (the lower weighted
    median, 2·cw >= T — a pure integer rule, so both engines pick the
    same ROW). The volume-weighted central price is the number a
    pricing dashboard wants when line sizes differ by 50x; the
    unweighted median (agg_exact_group_median) misreads it.

    Scale: the same per-group-sort trade as the exact median family —
    one running-sum window per group; everything downstream is a
    conditional min over the group. Weights and prices are exact
    integers end-to-end (quantities are integral units, prices 2-dp);
    the single /100 at the end is the documented cents convention."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("bigint")
        .alias("cents"),
        F.round(F.col("l_quantity"), 0).cast("bigint").alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
    ow = (
        Window.partitionBy("l_returnflag")
        .orderBy("cents", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = li.select(
        "l_returnflag",
        "cents",
        F.sum("w").over(ow).alias("cw"),
        F.sum("w").over(Window.partitionBy("l_returnflag")).alias("t"),
    )
    pick = r.groupBy("l_returnflag").agg(
        F.max("t").cast("bigint").alias("total_weight"),
        F.min(F.when(2 * F.col("cw") >= F.col("t"), F.col("cents")))
        .cast("bigint")
        .alias("med_cents"),
    )
    return pick.select(
        "l_returnflag",
        "total_weight",
        F.round(F.col("med_cents").cast("double") / 100.0, 2).alias(
            "w_median_price"
        ),
    )


# --- exact grouped trimmed mean (round 9, late batch 2) ---------------------

_TRIM_ORACLE = """
    WITH o AS (
        SELECT o_orderpriority,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderkey
        FROM orders
    ),
    r AS (
        SELECT o_orderpriority, cents,
               row_number() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY cents, o_orderkey
               ) AS rn,
               count(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM o
    ),
    k AS (
        SELECT o_orderpriority,
               CAST(max(n) AS BIGINT) AS n_orders,
               CAST(max(n) // 10 AS BIGINT) AS n_trimmed_each,
               CAST(sum(CASE WHEN rn > n // 10 AND rn <= n - n // 10
                             THEN cents END) AS BIGINT) AS kept_cents,
               CAST(sum(CASE WHEN rn > n // 10 AND rn <= n - n // 10
                             THEN 1 ELSE 0 END) AS BIGINT) AS kept_n
        FROM r GROUP BY 1
    )
    SELECT o_orderpriority, n_orders, n_trimmed_each, kept_n,
           round(CAST(floor(CAST(kept_cents AS DOUBLE) / kept_n
                            * 100e0 + 0.5e0) AS BIGINT) / 10000e0, 4)
               AS trimmed_mean_price
    FROM k
"""


@register("agg_exact_group_trimmed_mean", _TRIM_ORACLE)
def agg_exact_group_trimmed_mean(spark, sf_dir):
    """EXACT 10%-trimmed mean per group (the outlier-robust mean the
    median/quartile family lacks): rank each group's order totals
    under the (cents, key) total order, drop the lowest and highest
    n div 10 rows, and average the kept integer cents. The kept ROW
    SET is identical in both engines because the order is total and
    the trim rule is pure integer arithmetic; the single mean division
    is quantized to 1e-4 units via floor(x·1e4 + 0.5) (the
    cross-engine rule), so there is no rounding channel.

    Scale: the same per-group-sort trade as the exact median; the
    trim filter and sum fold map-side after the rank."""
    r = _ranked_order_cents(spark, sf_dir)
    kept = (F.col("rn") > F.expr("n div 10")) & (
        F.col("rn") <= F.expr("n - n div 10")
    )
    k = r.groupBy("o_orderpriority").agg(
        F.max("n").cast("bigint").alias("n_orders"),
        F.expr("max(n) div 10").cast("bigint").alias("n_trimmed_each"),
        F.sum(F.when(kept, F.col("cents"))).cast("bigint").alias("kept_cents"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("kept_n"),
    )
    return k.select(
        "o_orderpriority",
        "n_orders",
        "n_trimmed_each",
        "kept_n",
        F.round(
            F.expr(
                "CAST(floor(CAST(kept_cents AS DOUBLE) / kept_n"
                " * 100e0 + 0.5e0) AS BIGINT)"
            )
            / F.expr("10000e0"),
            4,
        ).alias("trimmed_mean_price"),
    )


# --- exact higher moments: skewness / kurtosis (round 10) --------------------
#
# Per-group skewness and excess kurtosis of lineitem quantities from
# the raw integer power sums S1..S4 = Σx..Σx⁴ (x = floor(l_quantity);
# quantities are integral 1..50 so floor is the identity, but the
# explicit floor keeps BOTH engines on the same double→int rule —
# DuckDB's CAST rounds to nearest while Spark's truncates (r10
# review) — making the sums int64-exact and ORDER-PROOF — no
# sum-order FP drift by construction; S4's int64 ceiling is
# ~1.4e12 rows at x<=50, documented like the dow chi²). The central-
# moment algebra runs in DOUBLE on those exact sums with an identical
# expression tree in both engines (+,-,*,/ and sqrt are all
# exactly-rounded IEEE ops), then each statistic is micro-unit
# quantized — the only transcendental-free path to exact cross-engine
# higher moments.

_DN = "CAST(n AS DOUBLE)"
_DS1 = "CAST(s1 AS DOUBLE)"
_DS2 = "CAST(s2 AS DOUBLE)"
_DS3 = "CAST(s3 AS DOUBLE)"
_DS4 = "CAST(s4 AS DOUBLE)"
_VAR_POP = f"(({_DN}*{_DS2} - {_DS1}*{_DS1}) / ({_DN}*{_DN}))"
_M3 = (
    f"(({_DN}*{_DN}*{_DS3} - 3e0*{_DN}*{_DS1}*{_DS2}"
    f" + 2e0*{_DS1}*{_DS1}*{_DS1}) / ({_DN}*{_DN}*{_DN}))"
)
_M4 = (
    f"(({_DN}*{_DN}*{_DN}*{_DS4} - 4e0*{_DN}*{_DN}*{_DS1}*{_DS3}"
    f" + 6e0*{_DN}*{_DS1}*{_DS1}*{_DS2} - 3e0*{_DS1}*{_DS1}*{_DS1}*{_DS1})"
    f" / ({_DN}*{_DN}*{_DN}*{_DN}))"
)
_SKEW = micro6_sql(
    f"({_M3} / NULLIF(sqrt({_VAR_POP})*sqrt({_VAR_POP})*sqrt({_VAR_POP}), 0e0))"
)
_KURT = micro6_sql(f"({_M4} / NULLIF({_VAR_POP}*{_VAR_POP}, 0e0) - 3e0)")
_MEAN6 = micro6_sql(f"({_DS1} / {_DN})")

_MOMENTS_ORACLE = f"""
    WITH m AS (
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS s1,
               CAST(sum(CAST(floor(l_quantity) AS BIGINT)
                        * CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS s2,
               CAST(sum(CAST(floor(l_quantity) AS BIGINT)
                        * CAST(floor(l_quantity) AS BIGINT)
                        * CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS s3,
               CAST(sum(CAST(floor(l_quantity) AS BIGINT)
                        * CAST(floor(l_quantity) AS BIGINT)
                        * CAST(floor(l_quantity) AS BIGINT)
                        * CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS s4
        FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, n, {_MEAN6} AS mean_qty,
           {_SKEW} AS skewness, {_KURT} AS excess_kurtosis
    FROM m
"""


@register("agg_exact_group_moments", _MOMENTS_ORACLE)
def agg_exact_group_moments(spark, sf_dir):
    """Exact per-group skewness and excess kurtosis of lineitem
    quantities — the distribution-shape companions to the exact
    median/percentile family, computed from integer power sums so the
    answer is sum-order-proof (the property approx stddev-based
    formulas lose under shuffle). See the section comment for the
    int64 ceiling and the shared DOUBLE expression tree.

    Scale: ONE map-side-combined aggregate over lineitem producing
    four int64 power sums per group; the moment algebra runs on the
    |groups|-row relation. No window, no second scan."""
    q = F.floor(F.col("l_quantity")).cast("bigint")
    m = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(q).cast("bigint").alias("s1"),
            F.sum(q * q).cast("bigint").alias("s2"),
            F.sum(q * q * q).cast("bigint").alias("s3"),
            F.sum(q * q * q * q).cast("bigint").alias("s4"),
        )
    )
    return m.select(
        "l_returnflag",
        "n",
        F.expr(_MEAN6).alias("mean_qty"),
        F.expr(_SKEW).alias("skewness"),
        F.expr(_KURT).alias("excess_kurtosis"),
    )


# --- exact group correlation (round 10) ---------------------------------------
#
# Pearson correlation of quantity vs (whole-dollar) extended price per
# return flag, from five int64 cross sums — the moments-family
# treatment of corr(): Σx, Σy, Σxy, Σx², Σy² are exact order-proof
# integers (y = floor(price) whole dollars, y² <= ~1.1e10, so Σy²
# stays inside int64 to ~8e8 rows PER GROUP, ~sf140 — price CENTS
# would overflow at sf0.1 already; past that scale switch the sums to
# DECIMAL(38,0), exact and order-proof in both engines), x uses the
# same explicit floor rule as agg_exact_group_moments, and the
# normalized algebra runs in DOUBLE on an identical expression tree
# in both engines (+,-,*,/ and sqrt are exactly-rounded IEEE), and the
# coefficient is micro-unit quantized. A zero-variance side yields
# NULL identically via NULLIF.

_DX = "CAST(sx AS DOUBLE)"
_DY = "CAST(sy AS DOUBLE)"
_DXY = "CAST(sxy AS DOUBLE)"
_DX2 = "CAST(sx2 AS DOUBLE)"
_DY2 = "CAST(sy2 AS DOUBLE)"
_CORR = micro6_sql(
    f"(({_DN}*{_DXY} - {_DX}*{_DY})"
    f" / NULLIF(sqrt({_DN}*{_DX2} - {_DX}*{_DX})"
    f" * sqrt({_DN}*{_DY2} - {_DY}*{_DY}), 0e0))"
)

_GROUP_CORR_ORACLE = f"""
    WITH b AS (
        SELECT l_returnflag,
               CAST(floor(l_quantity) AS BIGINT) AS x,
               CAST(floor(l_extendedprice) AS BIGINT) AS y
        FROM lineitem
    ),
    m AS (
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sx2,
               CAST(sum(y * y) AS BIGINT) AS sy2
        FROM b GROUP BY 1
    )
    SELECT l_returnflag, n, {_CORR} AS corr_qty_price
    FROM m
"""


@register("agg_group_correlation", _GROUP_CORR_ORACLE)
def agg_group_correlation(spark, sf_dir):
    """Exact per-group Pearson correlation between order-line quantity
    and whole-dollar extended price — the bivariate companion to
    agg_exact_group_moments, sum-order-proof by construction. See the
    section comment for the int64 ceilings and the shared DOUBLE
    expression tree.

    Scale: ONE map-side-combined aggregate over lineitem producing
    five int64 cross sums per group; the correlation algebra runs on
    the |groups|-row relation. No window, no second scan."""
    x = F.floor(F.col("l_quantity")).cast("bigint")
    y = F.floor(F.col("l_extendedprice")).cast("bigint")
    m = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_returnflag", x.alias("x"), y.alias("y"))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("x").cast("bigint").alias("sx"),
            F.sum("y").cast("bigint").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sx2"),
            F.sum(F.col("y") * F.col("y")).cast("bigint").alias("sy2"),
        )
    )
    return m.select(
        "l_returnflag", "n", F.expr(_CORR).alias("corr_qty_price")
    )


# --- Theil T inequality decomposition (round 12) -------------------------------
#
# The decomposable member of the concentration family
# (events_gini_concentration / events_pareto_share measure inequality
# but neither splits it): Theil's T over per-customer order spend,
# decomposed EXACTLY into between-nation and within-nation components
# — T = Σ_g (S_g/S)·ln(μ_g/μ) + Σ_g (S_g/S)·T_g. The decomposability
# is why a curation pipeline prefers Theil to Gini for "how much of
# the skew is explained by the grouping": the between term is
# computable from group aggregates alone.
#
# Exactness contract: spend is deterministic integer cents
# (floor(o_totalprice·100 + 0.5) summed per customer — exact int64),
# so n, S, n_g, S_g are order-proof integer sums. Each ln-bearing
# term is micro-quantized (floor(x·1e6 + 0.5), the
# entropy_term_micro_sql rule — ln on the same double input in both
# engines, never round-on-double) and summed as BIGINT: per-customer
# terms for T_total, per-nation terms for T_between. All three
# reported components are clamped CONSISTENTLY (the features_anova_f
# SSB lesson, applied at birth rather than after an ADVICE flag —
# and, per the r12 review, applied to BOTH quantized sums, since
# near-equal group means can push either a few micro below zero):
# t_c = greatest(T, 0), tb_c = least(greatest(T_between, 0), t_c)
# (mathematically 0 ≤ T_between ≤ T), within = t_c − tb_c ≥ 0 and
# between_share = tb_c/t_c ∈ [0, 1] by construction. Ratios inside
# ln are computed as (DOUBLE multiply then divide) in ONE fixed
# order — never an int64 product that could overflow at scale.

_THEIL_R_CUST = "((CAST(x AS DOUBLE) * n) / s)"   # x_i / mu
_THEIL_R_NAT = (
    "((CAST(s_g AS DOUBLE) * n) / (CAST(n_g AS DOUBLE) * s))"  # mu_g / mu
)

# ONE definition of the spend-by-customer / by-nation / totals base
# relations, shared by the Theil T and Theil L (MLD) oracles — the
# _COSUPP_EDGES_SQL one-fragment precedent.
_THEIL_BASE_CTES = """cust AS (
        SELECT o_custkey,
               CAST(sum(CAST(floor(o_totalprice * 100e0 + 0.5e0) AS BIGINT))
                    AS BIGINT) AS x
        FROM orders GROUP BY 1
    ),
    nat AS (
        SELECT c.c_nationkey AS nationkey,
               CAST(count(*) AS BIGINT) AS n_g,
               CAST(sum(cust.x) AS BIGINT) AS s_g
        FROM cust JOIN customer c ON c.c_custkey = cust.o_custkey
        GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(n_g) AS BIGINT) AS n, CAST(sum(s_g) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS n_groups
        FROM nat
    )"""

_THEIL_ORACLE = f"""
    WITH {_THEIL_BASE_CTES},
    tt AS (
        SELECT CAST(sum(CAST(floor({_THEIL_R_CUST} * ln({_THEIL_R_CUST})
                                   * 1000000e0 + 0.5e0) AS BIGINT))
                    AS BIGINT) AS t_sum
        FROM cust CROSS JOIN tot
    ),
    tb AS (
        SELECT CAST(sum(CAST(floor((CAST(s_g AS DOUBLE) / s)
                                   * ln({_THEIL_R_NAT})
                                   * 1000000e0 + 0.5e0) AS BIGINT))
                    AS BIGINT) AS tb_micro
        FROM nat CROSS JOIN tot
    ),
    f AS (
        SELECT tot.n, tot.n_groups, tot.s,
               greatest(CAST(floor(CAST(tt.t_sum AS DOUBLE) / tot.n + 0.5e0)
                             AS BIGINT), 0) AS t_c,
               tb.tb_micro
        FROM tot CROSS JOIN tt CROSS JOIN tb
    ),
    f2 AS (
        SELECT n, n_groups, s, t_c,
               least(greatest(tb_micro, 0), t_c) AS tb_c
        FROM f
    )
    SELECT n AS n_customers, n_groups, s AS total_spend_cents,
           round(t_c / 1000000e0, 6) AS theil_total,
           round(tb_c / 1000000e0, 6) AS theil_between,
           round((t_c - tb_c) / 1000000e0, 6) AS theil_within,
           CASE WHEN t_c > 0 THEN
               round(CAST(floor(CAST(tb_c AS DOUBLE) / t_c
                                * 1000000e0 + 0.5e0) AS BIGINT)
                     / 1000000e0, 6)
           END AS between_share
    FROM f2
"""


def _theil_base(spark, sf_dir):
    """(cust, nat, tot) — the Spark-side twins of _THEIL_BASE_CTES,
    shared by the Theil T and Theil L decompositions.

    r16 optimization round: ``cust`` (per-customer spend cents —
    customer-grain, ~|customers| rows) is session-persisted through
    operators/session_cache like the graph pair-cells relation
    (VERDICT r14 #4 precedent). Six inequality queries consume it,
    and several of them fan it into 3-4 plan branches (Theil T alone
    re-planned the orders scan + custkey aggregate four times per
    invocation: the tt branch scans without the join's IsNotNull
    pushdown, so AQE exchange reuse never fired), plus the
    Lorenz/Palma rank kernel re-derives it in its max-width and
    bucket-histogram driver actions. Cached, each of those is a read
    of one dimension-grain relation; at warehouse scale this is the
    materialized customer-spend table every inequality report would
    share."""
    from .operators.session_cache import session_cached

    cents = F.expr(
        "CAST(floor(o_totalprice * 100e0 + 0.5e0) AS BIGINT)"
    )
    cust = session_cached(
        spark,
        "cust_spend_cents",
        sf_dir,
        lambda: (
            load_table(spark, sf_dir, "orders")
            .groupBy("o_custkey")
            .agg(F.sum(cents).cast("bigint").alias("x"))
        ),
        # checkpoint, don't persist (r17, VERDICT r16 #6): the six
        # inequality consumers fan cust into 3-4 tiny aggregate
        # branches each; with persist every branch re-optimized the
        # embedded orders-scan lineage (309-line executed plan,
        # theil wall 0.46 -> 0.83 s), with the lineage truncated the
        # branches plan against a flat Scan ExistingRDD.
        checkpoint=True,
    )
    def _nat_build():
        customer = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_nationkey"
        )
        return (
            cust.join(customer, cust["o_custkey"] == customer["c_custkey"])
            .groupBy(F.col("c_nationkey").alias("nationkey"))
            .agg(
                F.count("*").cast("bigint").alias("n_g"),
                F.sum("x").cast("bigint").alias("s_g"),
            )
        )

    # nation-grain (≤25 rows) and consumed by 2-3 branches per query
    # (tot, tb, and the assemble's left side each re-planned the
    # cust⋈customer→agg chain) — checkpointed for the same lineage-
    # truncation reason as cust above.
    nat = session_cached(
        spark, "nat_spend_agg", sf_dir, _nat_build, checkpoint=True
    )
    tot = nat.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("s_g").cast("bigint").alias("s"),
        F.count("*").cast("bigint").alias("n_groups"),
    )
    return cust, nat, tot


def _theil_assemble(tot, tt, tb, names):
    """Clamped decomposition report shared by Theil T and Theil L:
    total = greatest(⌊term_sum/n⌉, 0), between = least(greatest(b, 0),
    total), within = total − between, share = between/total — the
    consistency contract from the section comment, parameterized only
    by the output column names (total, between, within)."""
    total_col, between_col, within_col = names
    f = (
        tot.crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(tb))
        .select(
            "n",
            "n_groups",
            "s",
            F.expr(
                "greatest(CAST(floor(CAST(t_sum AS DOUBLE) / n + 0.5e0)"
                " AS BIGINT), 0)"
            ).alias("t_c"),
            "tb_micro",
        )
        .select(
            "n",
            "n_groups",
            "s",
            "t_c",
            F.expr("least(greatest(tb_micro, 0), t_c)").alias("tb_c"),
        )
    )
    return f.select(
        F.col("n").alias("n_customers"),
        "n_groups",
        F.col("s").alias("total_spend_cents"),
        F.round(F.col("t_c") / F.expr("1000000e0"), 6).alias(total_col),
        F.round(F.col("tb_c") / F.expr("1000000e0"), 6).alias(between_col),
        F.round(
            (F.col("t_c") - F.col("tb_c")) / F.expr("1000000e0"), 6
        ).alias(within_col),
        F.expr(
            f"CASE WHEN t_c > 0 THEN {micro6_sql('CAST(tb_c AS DOUBLE) / t_c')} END"
        ).alias("between_share"),
    )


@register("agg_theil_decomposition", _THEIL_ORACLE, headline=True)
def agg_theil_decomposition(spark, sf_dir):
    """Theil T inequality of per-customer order spend with the exact
    between-/within-nation decomposition and between share — the
    decomposable companion to events_gini_concentration (see the
    section comment for the exactness contract and the clamped
    within term).

    Scale: one map-side-combined aggregate of orders on o_custkey,
    one co-keyed join to customer, a nation-cardinality aggregate and
    a 1-row totals reduction broadcast back over the customer-grain
    relation for the per-customer term sum — no window, no driver
    collect; the customer relation feeds two branches and AQE
    ReuseExchange dedups the subtree (the graph_jaccard_similarity
    measurement precedent)."""
    cust, nat, tot = _theil_base(spark, sf_dir)
    tt = cust.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.expr(micro_units_sql(f"{_THEIL_R_CUST} * ln({_THEIL_R_CUST})"))
        )
        .cast("bigint")
        .alias("t_sum")
    )
    tb = nat.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.expr(micro_units_sql(f"(CAST(s_g AS DOUBLE) / s) * ln({_THEIL_R_NAT})"))
        )
        .cast("bigint")
        .alias("tb_micro")
    )
    return _theil_assemble(
        tot, tt, tb, ("theil_total", "theil_between", "theil_within")
    )


# --- Theil L (mean log deviation) twin (round 12, second batch) ---------------
#
# The second decomposable inequality index on the SAME base
# relations: L = (1/n)·Σ ln(μ/x_i), which (unlike Theil T's
# spend-share weighting) weights every CUSTOMER equally — the pair
# (T, L) brackets where the inequality lives (T is more sensitive to
# the top of the distribution, L to the bottom), which is why
# inequality reports quote both. Decomposition mirrors T's:
# L = Σ_g (n_g/n)·ln(μ/μ_g) + Σ_g (n_g/n)·L_g, with the between term
# computable from group aggregates alone. Same exactness contract
# and the same consistent clamps as the T query (one shared
# assemble helper); ratios inside ln are (DOUBLE multiply then
# divide) in one fixed order.

_MLD_R_CUST = "(CAST(s AS DOUBLE) / (CAST(x AS DOUBLE) * n))"   # mu / x_i
_MLD_R_NAT = (
    "((CAST(s AS DOUBLE) * n_g) / (CAST(n AS DOUBLE) * s_g))"  # mu / mu_g
)

_MLD_ORACLE = f"""
    WITH {_THEIL_BASE_CTES},
    tt AS (
        SELECT CAST(sum(CAST(floor(ln({_MLD_R_CUST})
                                   * 1000000e0 + 0.5e0) AS BIGINT))
                    AS BIGINT) AS t_sum
        FROM cust CROSS JOIN tot
    ),
    tb AS (
        SELECT CAST(sum(CAST(floor((CAST(n_g AS DOUBLE) / n)
                                   * ln({_MLD_R_NAT})
                                   * 1000000e0 + 0.5e0) AS BIGINT))
                    AS BIGINT) AS tb_micro
        FROM nat CROSS JOIN tot
    ),
    f AS (
        SELECT tot.n, tot.n_groups, tot.s,
               greatest(CAST(floor(CAST(tt.t_sum AS DOUBLE) / tot.n + 0.5e0)
                             AS BIGINT), 0) AS t_c,
               tb.tb_micro
        FROM tot CROSS JOIN tt CROSS JOIN tb
    ),
    f2 AS (
        SELECT n, n_groups, s, t_c,
               least(greatest(tb_micro, 0), t_c) AS tb_c
        FROM f
    )
    SELECT n AS n_customers, n_groups, s AS total_spend_cents,
           round(t_c / 1000000e0, 6) AS mld_total,
           round(tb_c / 1000000e0, 6) AS mld_between,
           round((t_c - tb_c) / 1000000e0, 6) AS mld_within,
           CASE WHEN t_c > 0 THEN
               round(CAST(floor(CAST(tb_c AS DOUBLE) / t_c
                                * 1000000e0 + 0.5e0) AS BIGINT)
                     / 1000000e0, 6)
           END AS between_share
    FROM f2
"""


@register("agg_theil_l_decomposition", _MLD_ORACLE)
def agg_theil_l_decomposition(spark, sf_dir):
    """Theil L (mean log deviation) of per-customer order spend with
    the exact between-/within-nation decomposition — the
    equal-customer-weighted twin of agg_theil_decomposition on the
    same shared base relations and clamp contract (see the section
    comment).

    Scale: identical shape to the T query — the only differences are
    the two term expressions."""
    cust, nat, tot = _theil_base(spark, sf_dir)
    tt = cust.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.expr(micro_units_sql(f"ln({_MLD_R_CUST})"))
        )
        .cast("bigint")
        .alias("t_sum")
    )
    tb = nat.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.expr(micro_units_sql(f"(CAST(n_g AS DOUBLE) / n) * ln({_MLD_R_NAT})"))
        )
        .cast("bigint")
        .alias("tb_micro")
    )
    return _theil_assemble(
        tot, tt, tb, ("mld_total", "mld_between", "mld_within")
    )


# --- Atkinson index, epsilon = 1 (round 13) ------------------------------------
#
# The welfare-normative member completing the inequality suite
# (Gini → Theil T → Theil L → Atkinson): for inequality-aversion
# ε = 1, A(1) = 1 − geomean(x)/mean(x) = 1 − exp(−L) where L is the
# mean log deviation the Theil L query already computes — so the
# index rides the SAME base relations and term sums, and its one new
# output is a fixed transform of the ALREADY-QUANTIZED L. The
# companion readout is the equally-distributed-equivalent spend
# EDE = μ·exp(−L): the per-customer spend that, shared equally,
# yields the same welfare — the number an executive summary quotes.
#
# Determinism: the exp() input is the micro-quantized BIGINT L
# divided by 1e6 — bit-identical in both engines — so exp sees the
# SAME double and any ≤ 1-ulp libm divergence (~1e-16 relative) is
# absorbed by the output micro-quantization except on measure-zero
# half-boundary inputs: the established ln() rule
# (entropy_term_micro_sql; Theil, Adamic–Adar) extended to its
# inverse. A(1) ∈ [0, 1) by construction since L ≥ 0 after the
# shared clamp; the mean is the exact half-up integer cents rational
# (2s + n) div 2n — no unrounded double mean ever exists (the
# features_time_decay_mean rule).

_ATKINSON_ORACLE = f"""
    WITH {_THEIL_BASE_CTES},
    tt AS (
        SELECT CAST(sum(CAST(floor(ln({_MLD_R_CUST})
                                   * 1000000e0 + 0.5e0) AS BIGINT))
                    AS BIGINT) AS t_sum
        FROM cust CROSS JOIN tot
    ),
    f AS (
        SELECT tot.n, tot.s,
               greatest(CAST(floor(CAST(tt.t_sum AS DOUBLE) / tot.n + 0.5e0)
                             AS BIGINT), 0) AS l_micro
        FROM tot CROSS JOIN tt
    )
    SELECT n AS n_customers, s AS total_spend_cents,
           round(l_micro / 1000000e0, 6) AS mld,
           round(CAST(floor((1e0 - exp(-(l_micro / 1000000e0)))
                            * 1000000e0 + 0.5e0) AS BIGINT)
                 / 1000000e0, 6) AS atkinson_1,
           CAST((2 * s + n) // (2 * n) AS BIGINT) AS mean_spend_cents,
           CAST(floor((CAST(s AS DOUBLE) / n)
                      * exp(-(l_micro / 1000000e0)) + 0.5e0)
                AS BIGINT) AS ede_spend_cents
    FROM f
"""


@register("agg_atkinson_index", _ATKINSON_ORACLE)
def agg_atkinson_index(spark, sf_dir):
    """Atkinson inequality index at ε = 1 of per-customer order spend,
    with the equally-distributed-equivalent spend readout — computed
    as 1 − exp(−L) on the Theil L query's shared base relations and
    already-quantized mean-log-deviation (see the section comment for
    the welfare interpretation and the exp-of-quantized-input
    determinism rule).

    Scale: identical shape to the Theil queries — one user-grain
    aggregate, one nation-dimension join, broadcast one-row totals;
    the Atkinson transform is driver-free scalar arithmetic on the
    single report row."""
    cust, _nat, tot = _theil_base(spark, sf_dir)
    tt = cust.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.expr(micro_units_sql(f"ln({_MLD_R_CUST})"))
        )
        .cast("bigint")
        .alias("t_sum")
    )
    f = tot.crossJoin(F.broadcast(tt)).select(
        "n",
        "s",
        F.expr(
            "greatest(CAST(floor(CAST(t_sum AS DOUBLE) / n + 0.5e0)"
            " AS BIGINT), 0)"
        ).alias("l_micro"),
    )
    return f.select(
        F.col("n").alias("n_customers"),
        F.col("s").alias("total_spend_cents"),
        F.round(F.col("l_micro") / F.expr("1000000e0"), 6).alias("mld"),
        F.expr(micro6_sql("(1e0 - exp(-(l_micro / 1000000e0)))")).alias(
            "atkinson_1"
        ),
        F.expr("CAST((2 * s + n) DIV (2 * n) AS BIGINT)").alias(
            "mean_spend_cents"
        ),
        F.expr(
            "CAST(floor((CAST(s AS DOUBLE) / n)"
            " * exp(-(l_micro / 1000000e0)) + 0.5e0) AS BIGINT)"
        ).alias("ede_spend_cents"),
    )


# --- Hoover (Robin Hood) index (round 14) ---------------------------------------
#
# The redistribution member completing the inequality suite (Gini →
# Theil T → Theil L → Atkinson → Hoover): H = ½·Σ|x_i/S − 1/n| is the
# fraction of total spend that would have to move between customers
# to equalize the distribution — the most literally interpretable
# inequality number, and the maximum vertical Lorenz-diagonal gap.
# The between-nation companion H_b = ½·Σ_g|S_g/S − n_g/n| applies the
# same formula to the nation-merged distribution; merging can only
# reduce transfer need, so H_b ≤ H and the Theil clamp contract
# applies (least/greatest at birth).
#
# Determinism: per-term share deviations are computed by ONE fixed
# IEEE tree over the exact BIGINT cells (two correctly-rounded
# divisions, one subtraction, abs), pico-quantized (1e12 — terms are
# O(1/n), so micro would truncate them at scale) and summed as
# BIGINT; the ÷2 and the pico→micro step run on the exact integer
# sum. No int64 product that could overflow at scale exists — the
# Theil ratio rule.

_HOOVER_T_CUST = (
    "CAST(floor(abs(CAST(x AS DOUBLE) / s - 1e0 / CAST(n AS DOUBLE))"
    " * 1000000000000e0 + 0.5e0) AS BIGINT)"
)
_HOOVER_T_NAT = (
    "CAST(floor(abs(CAST(s_g AS DOUBLE) / s"
    " - CAST(n_g AS DOUBLE) / CAST(n AS DOUBLE))"
    " * 1000000000000e0 + 0.5e0) AS BIGINT)"
)
# pico-sum → micro H: /2 (the ½) then /1e6 (pico→micro), one floor
_HOOVER_MICRO = (
    "CAST(floor(CAST({s} AS DOUBLE) / 2000000e0 + 0.5e0) AS BIGINT)"
)

_HOOVER_ORACLE = f"""
    WITH {_THEIL_BASE_CTES},
    ht AS (
        SELECT CAST(sum({_HOOVER_T_CUST}) AS BIGINT) AS h_pico
        FROM cust CROSS JOIN tot
    ),
    hb AS (
        SELECT CAST(sum({_HOOVER_T_NAT}) AS BIGINT) AS hb_pico
        FROM nat CROSS JOIN tot
    ),
    f AS (
        SELECT tot.n, tot.n_groups, tot.s,
               greatest({_HOOVER_MICRO.format(s="ht.h_pico")}, 0) AS h_c,
               {_HOOVER_MICRO.format(s="hb.hb_pico")} AS hb_raw
        FROM tot CROSS JOIN ht CROSS JOIN hb
    ),
    f2 AS (
        SELECT n, n_groups, s, h_c,
               least(greatest(hb_raw, 0), h_c) AS hb_c
        FROM f
    )
    SELECT n AS n_customers, n_groups, s AS total_spend_cents,
           round(h_c / 1000000e0, 6) AS hoover_total,
           round(hb_c / 1000000e0, 6) AS hoover_between,
           CASE WHEN h_c > 0 THEN
               round(CAST(floor(CAST(hb_c AS DOUBLE) / h_c
                                * 1000000e0 + 0.5e0) AS BIGINT)
                     / 1000000e0, 6)
           END AS between_share
    FROM f2
"""


@register("agg_hoover_index", _HOOVER_ORACLE)
def agg_hoover_index(spark, sf_dir):
    """Hoover (Robin Hood) index of per-customer order spend with the
    between-nation companion — the share of total spend that must be
    redistributed to reach equality, on the SAME shared base
    relations as the Theil/Atkinson family (see the section comment
    for the pico-term quantization and the merge-monotonicity clamp).

    Scale: identical shape to the Theil queries — one customer-grain
    aggregate, one broadcast totals row, map-side-combinable BIGINT
    term sums; no window, no driver-side state beyond the one report
    row."""
    cust, nat, tot = _theil_base(spark, sf_dir)
    ht = cust.crossJoin(F.broadcast(tot)).agg(
        F.sum(F.expr(_HOOVER_T_CUST)).cast("bigint").alias("h_pico")
    )
    hb = nat.crossJoin(F.broadcast(tot)).agg(
        F.sum(F.expr(_HOOVER_T_NAT)).cast("bigint").alias("hb_pico")
    )
    f = (
        tot.crossJoin(F.broadcast(ht))
        .crossJoin(F.broadcast(hb))
        .select(
            "n",
            "n_groups",
            "s",
            F.expr(
                "greatest("
                + _HOOVER_MICRO.format(s="h_pico")
                + ", 0)"
            ).alias("h_c"),
            F.expr(_HOOVER_MICRO.format(s="hb_pico")).alias("hb_raw"),
        )
        .select(
            "n",
            "n_groups",
            "s",
            "h_c",
            F.expr("least(greatest(hb_raw, 0), h_c)").alias("hb_c"),
        )
    )
    return f.select(
        F.col("n").alias("n_customers"),
        "n_groups",
        F.col("s").alias("total_spend_cents"),
        F.round(F.col("h_c") / F.expr("1000000e0"), 6).alias("hoover_total"),
        F.round(F.col("hb_c") / F.expr("1000000e0"), 6).alias(
            "hoover_between"
        ),
        F.expr(
            f"CASE WHEN h_c > 0 THEN {micro6_sql('CAST(hb_c AS DOUBLE) / h_c')} END"
        ).alias("between_share"),
    )


# --- Lorenz curve + Palma ratio (round 14) --------------------------------------
#
# The distributional READOUT companions to the inequality indices:
# the Lorenz curve's decile grid (cumulative spend share of the
# poorest p % of customers) is the picture behind Gini/Hoover, and
# the Palma ratio (top-10 % share / bottom-40 % share) is the
# tail-focused summary economists quote when the middle is stable.
# Both need exact PREFIX-RANGE SUMS at rank cuts — a new shape beside
# the single order statistics of _bucket_order_stats: the cumulative
# spend of the k poorest under the deterministic (spend, custkey)
# total order.
#
# Two-pass plan (no global sort/window): pass 1 aggregates per
# value-range bucket (count, spend sum) — ≤ _SPEND_RANGES rows,
# collected like the kernel's counts — and the driver walks the
# bucket prefix to place each rank cut with a residual and the EXACT
# spend of all full buckets below it; pass 2 ranks WITHIN target
# buckets only and sums the residual-many smallest rows. cum(k) =
# full-bucket prefix + in-bucket partial, exact BIGINT cents
# end-to-end; shares and the Palma quotient are single
# micro-quantized divisions. The DuckDB oracle uses the naive global
# window, so the hash match proves the two-pass decomposition.

_LORENZ_DECILES = (10, 20, 30, 40, 50, 60, 70, 80, 90)


def _cust_spend_prefix(spark, cust, fracs):
    """Exact prefix spend at rank cuts k = (num·n) div den of the
    (x, o_custkey) order over ``cust``, one row per tag on one
    partition: (tag, rank_k, base_cents, n, s, part_cents).
    ``fracs`` maps tag -> (num, den). part_cents is the in-bucket
    partial, NULL only when rank_k is 0 — a cut landing exactly on a
    bucket boundary sums that whole bucket as its partial. n, s and
    rank_k are NULL when ``cust`` is empty, as in the oracle. Since
    the r14 review this is a one-cell instantiation of the shared
    ``bucket_prefix_cells`` kernel (operators/rank_prefix.py) — the
    Qini query runs the same walk with a four-cell vector."""
    from .operators.rank_prefix import (
        _rng_bucketed,
        assemble_tags,
        bucket_prefix_cells,
    )

    g = _rng_bucketed(
        cust.select(F.col("o_custkey").alias("key"), F.col("x").alias("m"))
    )
    part, base, n, totals = bucket_prefix_cells(
        spark,
        g,
        [("cents", F.sum("m").cast("bigint"))],
        lambda n: {tag: (num * n) // den for tag, (num, den) in fracs.items()},
    )
    # no customers: the oracle's totals are SUMs over an empty
    # relation, so n, s and every rank cut are NULL, not 0
    n, s = (n, totals[0]) if n else (None, None)
    return assemble_tags(
        spark,
        [
            (tag, (num * n) // den if n else None, base[tag][0], n, s)
            for tag, (num, den) in fracs.items()
        ],
        "tag string, rank_k bigint, base_cents bigint, n bigint, s bigint",
        part.select("tag", F.col("p_cents").alias("part_cents")),
    )


_SHARE6 = micro6_sql("CAST({num} AS DOUBLE) / NULLIF({den}, 0)")

_LORENZ_ORACLE = f"""
    WITH {_THEIL_BASE_CTES},
    r AS (
        SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS rn
        FROM cust
    ),
    d AS (SELECT CAST(p AS BIGINT) AS p
          FROM (VALUES {", ".join(f"({p})" for p in _LORENZ_DECILES)}) t(p)),
    sel AS (
        SELECT d.p, (d.p * tot.n) // 100 AS k, tot.n, tot.s
        FROM d CROSS JOIN tot
    )
    SELECT sel.p AS decile_pct,
           sel.k AS rank_k,
           sel.n AS n_customers,
           CAST(coalesce(sum(r.x), 0) AS BIGINT) AS cum_spend_cents,
           {_SHARE6.format(num="coalesce(sum(r.x), 0)", den="sel.s")}
               AS cum_share
    FROM sel LEFT JOIN r ON r.rn <= sel.k
    GROUP BY sel.p, sel.k, sel.n, sel.s
    ORDER BY decile_pct
"""


@register("agg_lorenz_deciles", _LORENZ_ORACLE, headline=True)
def agg_lorenz_deciles(spark, sf_dir):
    """Lorenz curve of per-customer order spend at the decile grid:
    cumulative exact-cents spend (and micro-quantized share) of the
    poorest 10..90 % under the deterministic (spend, custkey) order —
    computed by the two-pass bucket-prefix range-sum plan (see the
    section comment), proven against the oracle's global window by
    the hash.

    Scale: pass 1 is one map-side-combined bucket aggregate (≤ 4096
    rows collected — metadata, the kernel convention); pass 2 windows
    only inside the ≤ 9 rank-cut buckets, fan-in one bucket's
    density. No global sort at any size."""
    cust, _nat, _tot = _theil_base(spark, sf_dir)
    return (
        _cust_spend_prefix(
            spark, cust, {f"p{p}": (p, 100) for p in _LORENZ_DECILES}
        )
        .select(
            F.expr("CAST(substring(tag, 2) AS BIGINT)").alias("decile_pct"),
            F.col("rank_k"),
            F.col("n").alias("n_customers"),
            (
                F.col("base_cents")
                + F.coalesce(F.col("part_cents"), F.lit(0))
            )
            .cast("bigint")
            .alias("cum_spend_cents"),
            F.expr(
                _SHARE6.format(
                    num="base_cents + coalesce(part_cents, 0)", den="s"
                )
            ).alias("cum_share"),
        )
        .orderBy("decile_pct")
    )


_PALMA_ORACLE = f"""
    WITH {_THEIL_BASE_CTES},
    r AS (
        SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS rn
        FROM cust
    ),
    sel AS (
        SELECT (40 * tot.n) // 100 AS k40, (90 * tot.n) // 100 AS k90,
               tot.n, tot.s
        FROM tot
    ),
    c AS (
        SELECT sel.n, sel.s,
               CAST(coalesce(sum(CASE WHEN r.rn <= sel.k40 THEN r.x END),
                             0) AS BIGINT) AS bottom40_cents,
               CAST(sel.s - coalesce(sum(CASE WHEN r.rn <= sel.k90
                                              THEN r.x END), 0)
                    AS BIGINT) AS top10_cents
        FROM sel LEFT JOIN r ON r.rn <= sel.k90
        GROUP BY sel.n, sel.s
    )
    SELECT n AS n_customers, s AS total_spend_cents,
           bottom40_cents, top10_cents,
           {_SHARE6.format(num="bottom40_cents", den="s")} AS bottom40_share,
           {_SHARE6.format(num="top10_cents", den="s")} AS top10_share,
           {_SHARE6.format(num="top10_cents", den="bottom40_cents")}
               AS palma_ratio
    FROM c
"""


@register("agg_palma_ratio", _PALMA_ORACLE)
def agg_palma_ratio(spark, sf_dir):
    """Palma ratio of per-customer order spend: top-10 % share over
    bottom-40 % share on the same exact bucket-prefix range sums as
    the Lorenz query (top-10 cents = total − cum(k90), so both
    operands come from ONE two-pass prefix computation). NULL when
    the bottom-40 % spend is zero.

    Scale: identical to agg_lorenz_deciles with two rank cuts instead
    of nine."""
    cust, _nat, _tot = _theil_base(spark, sf_dir)
    cum = _cust_spend_prefix(
        spark, cust, {"k40": (40, 100), "k90": (90, 100)}
    ).select(
        "tag",
        "n",
        "s",
        (F.col("base_cents") + F.coalesce(F.col("part_cents"), F.lit(0)))
        .cast("bigint")
        .alias("cum_cents"),
    )
    c = cum.groupBy("n", "s").agg(
        F.max(F.when(F.col("tag") == "k40", F.col("cum_cents")))
        .cast("bigint")
        .alias("bottom40_cents"),
        (
            F.first("s")
            - F.max(F.when(F.col("tag") == "k90", F.col("cum_cents")))
        )
        .cast("bigint")
        .alias("top10_cents"),
    )
    return c.select(
        F.col("n").alias("n_customers"),
        F.col("s").alias("total_spend_cents"),
        "bottom40_cents",
        "top10_cents",
        F.expr(_SHARE6.format(num="bottom40_cents", den="s")).alias(
            "bottom40_share"
        ),
        F.expr(_SHARE6.format(num="top10_cents", den="s")).alias(
            "top10_share"
        ),
        F.expr(
            _SHARE6.format(num="top10_cents", den="bottom40_cents")
        ).alias("palma_ratio"),
    )


# --- concentration curve: spend by order-frequency rank (round 14) --------------
#
# The cross-variable generalization of the Lorenz curve (the
# health-economics "concentration curve"): customers are ranked by a
# DIFFERENT variable than the one being accumulated — here order
# COUNT (frequency) — and the curve reads what share of total SPEND
# the least-frequent p % of customers carry. Curve ≈ diagonal means
# frequency and value are decoupled; far below means the frequent
# buyers are also the heavy spenders (retention is revenue). Third
# instantiation of the shared bucket_prefix_cells kernel, proving the
# rank-variable/value-variable split the kernel was generalized for:
# buckets on the rank variable, cells sum the value variable.
# Deterministic (order_count, custkey) tie order; exact BIGINT cents.

_CONC_ORACLE = f"""
    WITH cc AS (
        SELECT o_custkey,
               CAST(count(*) AS BIGINT) AS r,
               CAST(sum(CAST(floor(o_totalprice * 100e0 + 0.5e0) AS BIGINT))
                    AS BIGINT) AS v
        FROM orders GROUP BY 1
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(v) AS BIGINT) AS s FROM cc),
    rk AS (
        SELECT v, row_number() OVER (ORDER BY r, o_custkey) AS rn
        FROM cc
    ),
    d AS (SELECT CAST(p AS BIGINT) AS p
          FROM (VALUES {", ".join(f"({p})" for p in _LORENZ_DECILES)}) t(p)),
    sel AS (
        SELECT d.p, (d.p * tot.n) // 100 AS k, tot.n, tot.s
        FROM d CROSS JOIN tot
    )
    SELECT sel.p AS decile_pct,
           sel.k AS rank_k,
           sel.n AS n_customers,
           CAST(coalesce(sum(rk.v), 0) AS BIGINT) AS cum_spend_cents,
           {_SHARE6.format(num="coalesce(sum(rk.v), 0)", den="sel.s")}
               AS cum_share
    FROM sel LEFT JOIN rk ON rk.rn <= sel.k
    GROUP BY sel.p, sel.k, sel.n, sel.s
    ORDER BY decile_pct
"""


@register("agg_concentration_curve", _CONC_ORACLE)
def agg_concentration_curve(spark, sf_dir):
    """Concentration curve of spend against order-frequency rank at
    the decile grid: cumulative exact-cents spend of the
    least-frequent 10..90 % of customers under the deterministic
    (order_count, custkey) order — the shared bucket_prefix_cells
    kernel with the rank variable ≠ the accumulated variable (see
    the section comment).

    Scale: identical plan family to agg_lorenz_deciles — one
    customer-grain aggregate, ≤ 4096-bucket metadata collect,
    boundary-bucket-only windows. Tie mass concentrates the
    low-count buckets (most customers place few orders) — the
    documented rank-kernel caveat, bounded by the frequency
    distribution's spread."""
    from .operators.rank_prefix import (
        _rng_bucketed,
        assemble_tags,
        bucket_prefix_cells,
    )
    from .operators.session_cache import session_cached

    cents = F.expr("CAST(floor(o_totalprice * 100e0 + 0.5e0) AS BIGINT)")
    # session-persisted like _theil_base's cust (customer-grain): the
    # rank kernel reads this relation in two driver actions (max
    # width, bucket histogram) plus the boundary-bucket pass per
    # invocation
    cc = session_cached(
        spark,
        "cust_freq_spend",
        sf_dir,
        lambda: (
            load_table(spark, sf_dir, "orders")
            .groupBy("o_custkey")
            .agg(
                F.count("*").cast("bigint").alias("m"),
                F.sum(cents).cast("bigint").alias("v"),
            )
            .select(F.col("o_custkey").alias("key"), "m", "v")
        ),
        checkpoint=True,
    )
    g = _rng_bucketed(cc)
    part, base, n, totals = bucket_prefix_cells(
        spark,
        g,
        [("cents", F.sum("v").cast("bigint"))],
        lambda n: {f"p{p}": (p * n) // 100 for p in _LORENZ_DECILES},
    )
    s = totals[0]
    return (
        assemble_tags(
            spark,
            [(f"p{p}", p, (p * n) // 100, base[f"p{p}"][0], n, s)
             for p in _LORENZ_DECILES],
            "tag string, decile_pct bigint, rank_k bigint,"
            " base_cents bigint, n bigint, s bigint",
            part,
        )
        .select(
            "decile_pct",
            "rank_k",
            F.col("n").alias("n_customers"),
            (F.col("base_cents") + F.coalesce(F.col("p_cents"), F.lit(0)))
            .cast("bigint")
            .alias("cum_spend_cents"),
            F.expr(
                _SHARE6.format(
                    num="base_cents + coalesce(p_cents, 0)", den="s"
                )
            ).alias("cum_share"),
        )
        .orderBy("decile_pct")
    )


# --- market-basket association rules (round 15) ----------------------------------
#
# The classic co-occurrence mining operator (the MLlib-FPGrowth /
# Agrawal-Srikant use case) at the 2-itemset level, exact: baskets
# are orders, items the DISTINCT part BRANDS in each order (brand is
# the right grain — raw part keys give singleton supports and
# degenerate rules), and every surviving rule a → b reports
#   support_pair  (baskets containing both, exact BIGINT),
#   confidence    = supp(a,b) / supp(a)          (micro-quantized),
#   lift          = supp(a,b)·N / (supp(a)·supp(b)) (micro-quantized)
# with a 1 % minimum pair support applied as the INTEGER comparison
# 100·supp(a,b) >= N (no float threshold channel). Both directions of
# each unordered pair are emitted (confidence is asymmetric); top-20
# orders on the BIGINT lift micro key, tie-broken (antecedent,
# consequent). The pair expansion is map-side over each basket's
# sorted distinct-brand array (≤ C(basket, 2) per order — baskets are
# small by construction); the oracle spells the same multiset as a
# self-join on the distinct (order, brand) relation — formulations
# differ, the hash proves the pair multiset agrees (the bigram
# adjacency precedent). supp(a,b)·N ≤ N² — int64-exact to ~3e9
# baskets; past that, DECIMAL(38) (the ANOVA bound convention).

_BASKET_TOP = 20


def _brand_baskets(spark, sf_dir):
    """Order-grain distinct-brand basket relation (okey, sorted brand
    set) shared by the 2- and 3-itemset rule queries — the transaction
    database every association-rule miner materializes once before
    counting itemsets.

    r17 (VERDICT r16 #3): the r16 shape derived nb/supp/pairs(/triples)
    from one basket aggregate and relied on AQE exchange reuse to
    execute the lineitem⋈part subtree once — the final adaptive plans
    show reuse does NOT fire across the branches (6-7 lineitem scans
    executed), so the relation is now session-checkpointed (the
    minhash-signature precedent, guide §5): one build per session,
    every consumer branch reads a flat Scan ExistingRDD. The explicit
    brand-not-null filter makes the collect_set/groupBy equivalence
    unconditional (ADVICE r16: collect_set skips NULLs — p_brand is
    NOT NULL in TPC-H, so the filter drops nothing, but the basket
    shape no longer silently assumes it)."""
    from .operators.session_cache import session_cached

    def build():
        lineitem = load_table(spark, sf_dir, "lineitem")
        part = load_table(spark, sf_dir, "part")
        ob = (
            lineitem.join(part, part["p_partkey"] == lineitem["l_partkey"])
            .filter(F.col("p_brand").isNotNull())
            .select(
                F.col("l_orderkey").alias("okey"),
                F.col("p_brand").alias("brand"),
            )
            .distinct()
        )
        return ob.groupBy("okey").agg(
            F.sort_array(F.collect_set("brand")).alias("bs")
        )

    return session_cached(
        spark, "brand_baskets", sf_dir, build, checkpoint=True
    )

_BASKET_RULES_ORACLE = f"""
    WITH ob AS (
        SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    nb AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n FROM ob),
    supp AS (
        SELECT brand, CAST(count(*) AS BIGINT) AS s FROM ob GROUP BY 1
    ),
    pairs AS (
        SELECT a.brand AS b1, b.brand AS b2,
               CAST(count(*) AS BIGINT) AS sp
        FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
        GROUP BY 1, 2
    ),
    rules AS (
        SELECT b1 AS antecedent, b2 AS consequent, sp FROM pairs
        UNION ALL
        SELECT b2 AS antecedent, b1 AS consequent, sp FROM pairs
    ),
    scored AS (
        SELECT r.antecedent, r.consequent, r.sp AS support_pair,
               sa.s AS support_a, sb.s AS support_b, nb.n AS n_baskets,
               CAST(floor(CAST(r.sp AS DOUBLE) / sa.s
                          * 1000000e0 + 0.5e0) AS BIGINT) AS conf_micro,
               CAST(floor(CAST(r.sp AS DOUBLE) * nb.n
                          / (CAST(sa.s AS DOUBLE) * sb.s)
                          * 1000000e0 + 0.5e0) AS BIGINT) AS lift_micro
        FROM rules r
        JOIN supp sa ON sa.brand = r.antecedent
        JOIN supp sb ON sb.brand = r.consequent
        CROSS JOIN nb
        WHERE 100 * r.sp >= nb.n
    )
    SELECT antecedent, consequent, support_pair, support_a, support_b,
           n_baskets,
           round(conf_micro / 1000000e0, 6) AS confidence,
           round(lift_micro / 1000000e0, 6) AS lift
    FROM scored
    ORDER BY lift_micro DESC, antecedent, consequent
    LIMIT {_BASKET_TOP}
"""


def _basket_supports(spark, sf_dir):
    """(baskets, nb, supp, pairs) of the brand association rules: the
    session-checkpointed per-order distinct-brand sets, the basket
    count n (one row per distinct okey = count(DISTINCT okey)), the
    per-brand support s (exploding the distinct brand set re-yields
    exactly the distinct (okey, brand) pairs), and the per-(b1 < b2)
    pair support sp."""
    baskets = _brand_baskets(spark, sf_dir)
    nb = baskets.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    supp = (
        baskets.select(F.explode("bs").alias("brand"))
        .groupBy("brand")
        .agg(F.count("*").cast("bigint").alias("s"))
    )
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(bs, (x, i) ->"
                    " transform(slice(bs, i + 2, size(bs)),"
                    " y -> struct(x AS b1, y AS b2))))"
                )
            ).alias("pr")
        )
        .groupBy(F.col("pr.b1").alias("b1"), F.col("pr.b2").alias("b2"))
        .agg(F.count("*").cast("bigint").alias("sp"))
    )
    return baskets, nb, supp, pairs


@register("basket_brand_rules", _BASKET_RULES_ORACLE, headline=True)
def basket_brand_rules(spark, sf_dir):
    """Top-20 brand→brand association rules by lift over order
    baskets, with exact integer supports, micro-quantized
    confidence/lift, and the 1 % min-support gate as an integer
    comparison (see the section comment for the grain and
    determinism contracts).

    Scale: the quadratic step runs ONLY within one order's sorted
    distinct-brand array (map-side transform expansion, ≤ C(basket,2)
    per order — the cosupp pattern); brand supports and the basket
    count are map-side-combined aggregates; the rule relation is
    brand²-bounded (dimension scale) so the support joins broadcast;
    top-20 is TakeOrderedAndProject on the exact BIGINT lift key.

    r16 derived nb and supp FROM the per-order basket relation (nb =
    one row per basket; supp = explode of the distinct-brand set —
    exactly the distinct (okey, brand) pairs) counting on AQE
    exchange reuse; r17 (VERDICT r16 #3) session-checkpoints the
    basket relation instead, because the final adaptive plan showed
    reuse never fired (6 executed lineitem scans). Every branch now
    reads the flat checkpointed relation; the anti-pruning
    size(bs) >= 0 guard (ADVICE r16: version-fragile) is gone — a
    materialized relation cannot be pruned."""
    _, nb, supp, pairs = _basket_supports(spark, sf_dir)
    rules = pairs.select(
        F.col("b1").alias("antecedent"),
        F.col("b2").alias("consequent"),
        "sp",
    ).unionAll(
        pairs.select(
            F.col("b2").alias("antecedent"),
            F.col("b1").alias("consequent"),
            "sp",
        )
    )
    scored = (
        rules.join(
            F.broadcast(
                supp.select(
                    F.col("brand").alias("antecedent"),
                    F.col("s").alias("support_a"),
                )
            ),
            "antecedent",
        )
        .join(
            F.broadcast(
                supp.select(
                    F.col("brand").alias("consequent"),
                    F.col("s").alias("support_b"),
                )
            ),
            "consequent",
        )
        .crossJoin(F.broadcast(nb))
        .where(F.expr("100 * sp >= n"))
        .select(
            "antecedent",
            "consequent",
            F.col("sp").alias("support_pair"),
            "support_a",
            "support_b",
            F.col("n").alias("n_baskets"),
            F.expr(micro_units_sql(
                "CAST(sp AS DOUBLE) / support_a"
            )).alias("conf_micro"),
            F.expr(micro_units_sql(
                "CAST(sp AS DOUBLE) * n / (CAST(support_a AS DOUBLE) * support_b)"
            )).alias("lift_micro"),
        )
    )
    return (
        scored.orderBy(F.desc("lift_micro"), "antecedent", "consequent")
        .limit(_BASKET_TOP)
        .select(
            "antecedent",
            "consequent",
            "support_pair",
            "support_a",
            "support_b",
            "n_baskets",
            F.expr("round(conf_micro / 1000000e0, 6)").alias("confidence"),
            F.expr("round(lift_micro / 1000000e0, 6)").alias("lift"),
        )
    )


# --- 3-itemset association rules (round 16) ---------------------------------
#
# The FP-growth-style one-level extension of basket_brand_rules
# (VERDICT r15 #6): rules {a,b} → c over the same order/brand baskets,
# exact. Each surviving rule reports
#   support_triple (baskets containing all three, exact BIGINT),
#   confidence     = supp(a,b,c) / supp(a,b)            (micro-quantized),
#   lift           = supp(a,b,c)·N / (supp(a,b)·supp(c)) (micro-quantized)
# with a 0.2 % minimum triple support applied as the INTEGER
# comparison 500·supp(a,b,c) >= N (the pair query's 1 % gate would be
# empty at the triple grain — measured: max triple support is ~0.4 %
# of baskets at sf0.1). All three rotations of each unordered triple
# are emitted (confidence is asymmetric in the antecedent PAIR; the
# two antecedent brands are reported sorted, a1 < a2, which the
# b1<b2<b3 triple orientation gives for free). Top-20 orders on the
# BIGINT lift micro key, tie-broken (antecedent_1, antecedent_2,
# consequent). The triple expansion is map-side over each basket's
# sorted distinct-brand array (≤ C(basket, 3) per order — baskets are
# small by construction, so the cubic step never leaves the row); the
# oracle spells the same multiset as a three-way self-join on the
# distinct (order, brand) relation — formulations differ, the hash
# proves the triple multiset agrees (the pair query's precedent one
# grain up). supp·N ≤ N² — int64-exact to ~3e9 baskets, then
# DECIMAL(38) per the ANOVA bound convention.

_BASKET3_MIN_SUPPORT_DEN = 500  # 500·sp >= N  <=>  support >= 0.2 %

_BASKET_RULES3_ORACLE = f"""
    WITH ob AS (
        SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    nb AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n FROM ob),
    supp AS (
        SELECT brand, CAST(count(*) AS BIGINT) AS s FROM ob GROUP BY 1
    ),
    pairs AS (
        SELECT a.brand AS b1, b.brand AS b2,
               CAST(count(*) AS BIGINT) AS sp
        FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
        GROUP BY 1, 2
    ),
    triples AS (
        SELECT a.brand AS b1, b.brand AS b2, c.brand AS b3,
               CAST(count(*) AS BIGINT) AS st
        FROM ob a
        JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
        JOIN ob c ON b.okey = c.okey AND b.brand < c.brand
        GROUP BY 1, 2, 3
    ),
    rules AS (
        SELECT b1 AS a1, b2 AS a2, b3 AS cons, st FROM triples
        UNION ALL
        SELECT b1, b3, b2, st FROM triples
        UNION ALL
        SELECT b2, b3, b1, st FROM triples
    ),
    scored AS (
        SELECT r.a1 AS antecedent_1, r.a2 AS antecedent_2,
               r.cons AS consequent, r.st AS support_triple,
               p.sp AS support_ante, sc.s AS support_cons, nb.n AS n_baskets,
               CAST(floor(CAST(r.st AS DOUBLE) / p.sp
                          * 1000000e0 + 0.5e0) AS BIGINT) AS conf_micro,
               CAST(floor(CAST(r.st AS DOUBLE) * nb.n
                          / (CAST(p.sp AS DOUBLE) * sc.s)
                          * 1000000e0 + 0.5e0) AS BIGINT) AS lift_micro
        FROM rules r
        JOIN pairs p ON p.b1 = r.a1 AND p.b2 = r.a2
        JOIN supp sc ON sc.brand = r.cons
        CROSS JOIN nb
        WHERE {_BASKET3_MIN_SUPPORT_DEN} * r.st >= nb.n
    )
    SELECT antecedent_1, antecedent_2, consequent, support_triple,
           support_ante, support_cons, n_baskets,
           round(conf_micro / 1000000e0, 6) AS confidence,
           round(lift_micro / 1000000e0, 6) AS lift
    FROM scored
    ORDER BY lift_micro DESC, antecedent_1, antecedent_2, consequent
    LIMIT {_BASKET_TOP}
"""


@register("basket_brand_rules3", _BASKET_RULES3_ORACLE)
def basket_brand_rules3(spark, sf_dir):
    """Top-20 {brand,brand}→brand association rules by lift over order
    baskets — the 3-itemset extension of basket_brand_rules, with
    exact integer supports, micro-quantized confidence/lift, and the
    0.2 % min-support gate as an integer comparison (see the section
    comment for the grain and determinism contracts).

    Scale: the cubic step runs ONLY within one order's sorted
    distinct-brand array (map-side nested transform expansion,
    ≤ C(basket,3) per order — the pair query's pattern one grain up);
    triple supports group on a brand³-bounded key space (≤ C(25,3)
    = 2300 cells at this dimension — dimension-scale, like the pair
    relation), so the pair-support and consequent-support joins both
    broadcast; top-20 is TakeOrderedAndProject on the exact BIGINT
    lift key."""
    baskets, nb, supp, pairs = _basket_supports(spark, sf_dir)
    # x at 0-based index i, y at 0-based index j WITHIN x's tail slice
    # (global index i+1+j), z from the tail after y (1-based start
    # i+j+3) — each sorted triple emitted exactly once per basket.
    triples = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(flatten(transform(bs, (x, i) ->"
                    " transform(slice(bs, i + 2, size(bs)), (y, j) ->"
                    " transform(slice(bs, i + j + 3, size(bs)),"
                    " z -> struct(x AS b1, y AS b2, z AS b3))))))"
                )
            ).alias("tr")
        )
        .groupBy(
            F.col("tr.b1").alias("b1"),
            F.col("tr.b2").alias("b2"),
            F.col("tr.b3").alias("b3"),
        )
        .agg(F.count("*").cast("bigint").alias("st"))
    )
    rules = (
        triples.select(
            F.col("b1").alias("a1"), F.col("b2").alias("a2"),
            F.col("b3").alias("cons"), "st",
        )
        .unionAll(
            triples.select(
                F.col("b1").alias("a1"), F.col("b3").alias("a2"),
                F.col("b2").alias("cons"), "st",
            )
        )
        .unionAll(
            triples.select(
                F.col("b2").alias("a1"), F.col("b3").alias("a2"),
                F.col("b1").alias("cons"), "st",
            )
        )
    )
    scored = (
        rules.join(
            F.broadcast(
                pairs.select(
                    F.col("b1").alias("a1"),
                    F.col("b2").alias("a2"),
                    F.col("sp").alias("support_ante"),
                )
            ),
            ["a1", "a2"],
        )
        .join(
            F.broadcast(
                supp.select(
                    F.col("brand").alias("cons"),
                    F.col("s").alias("support_cons"),
                )
            ),
            "cons",
        )
        .crossJoin(F.broadcast(nb))
        .where(F.expr(f"{_BASKET3_MIN_SUPPORT_DEN} * st >= n"))
        .select(
            F.col("a1").alias("antecedent_1"),
            F.col("a2").alias("antecedent_2"),
            F.col("cons").alias("consequent"),
            F.col("st").alias("support_triple"),
            "support_ante",
            "support_cons",
            F.col("n").alias("n_baskets"),
            F.expr(micro_units_sql(
                "CAST(st AS DOUBLE) / support_ante"
            )).alias("conf_micro"),
            F.expr(micro_units_sql(
                "CAST(st AS DOUBLE) * n / (CAST(support_ante AS DOUBLE) * support_cons)"
            )).alias("lift_micro"),
        )
    )
    return (
        scored.orderBy(
            F.desc("lift_micro"),
            "antecedent_1",
            "antecedent_2",
            "consequent",
        )
        .limit(_BASKET_TOP)
        .select(
            "antecedent_1",
            "antecedent_2",
            "consequent",
            "support_triple",
            "support_ante",
            "support_cons",
            "n_baskets",
            F.expr("round(conf_micro / 1000000e0, 6)").alias("confidence"),
            F.expr("round(lift_micro / 1000000e0, 6)").alias("lift"),
        )
    )


# --- per-brand price elasticity of demand (round 16) ---------------------------
#
# The classic log-log demand regression, one fit per brand: each
# lineitem contributes an observation (unit price p = extendedprice /
# quantity, demand q = quantity), and the brand's price elasticity is
# the OLS slope of ln q on ln p — the econometric readout every
# pricing/assortment pipeline derives from exactly this order-line
# grain, beside the basket-association rules mined from the same
# feed. R² rides along so a flat-demand brand (no price response)
# reads as low-fit rather than as a confident zero.
#
# Determinism: the Zipf/Heaps regression contract at GROUP grain —
# per-observation log terms are 6dp-rounded then summed as DECIMAL
# (exact, associative, partition-order-proof) per brand; slope and R²
# are one fixed double tree over the group sums, NULLIF-guarded for
# degenerate brands (constant price or < 3 observations). ln runs on
# the exactly-computed IEEE division — the 6dp rounding absorbs
# engine libm ulp differences exactly as the Zipf fit does.
#
# Scale: one lineitem-grain projection (the part join prunes to
# p_partkey/p_brand columns), one brand-grain DECIMAL aggregate (25
# groups — map-side combinable), per-row scalar output. No window,
# no collect.

_ELAST_ORACLE = """
    WITH obs AS (
        SELECT p.p_brand AS brand,
               round(ln(l.l_extendedprice / l.l_quantity), 6) AS x,
               round(ln(l.l_quantity), 6) AS y
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE l.l_quantity > 0 AND l.l_extendedprice > 0
    ),
    t AS (
        SELECT brand,
               CAST(x AS DECIMAL(18, 6)) AS x,
               CAST(y AS DECIMAL(18, 6)) AS y,
               CAST(round(x * y, 6) AS DECIMAL(28, 6)) AS xy,
               CAST(round(x * x, 6) AS DECIMAL(28, 6)) AS xx,
               CAST(round(y * y, 6) AS DECIMAL(28, 6)) AS yy
        FROM obs
    ),
    g AS (
        SELECT brand, CAST(count(*) AS BIGINT) AS n_obs,
               CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
               CAST(sum(xy) AS DOUBLE) AS sxy,
               CAST(sum(xx) AS DOUBLE) AS sxx,
               CAST(sum(yy) AS DOUBLE) AS syy
        FROM t GROUP BY 1
    )
    SELECT brand, n_obs,
           CASE WHEN n_obs >= 3 THEN
               round((n_obs * sxy - sx * sy)
                     / NULLIF(n_obs * sxx - sx * sx, 0e0), 4)
           END AS elasticity,
           CASE WHEN n_obs >= 3
                 AND n_obs * sxx - sx * sx > 0e0
                 AND n_obs * syy - sy * sy > 0e0 THEN
               round((n_obs * sxy - sx * sy) * (n_obs * sxy - sx * sy)
                     / ((n_obs * sxx - sx * sx)
                        * (n_obs * syy - sy * sy)), 4)
           END AS r_squared
    FROM g ORDER BY brand
"""


@register("features_price_elasticity", _ELAST_ORACLE)
def features_price_elasticity(spark, sf_dir):
    """Per-brand price elasticity of demand: OLS slope of ln(quantity)
    on ln(unit price) over the brand's order lines, with R² — the
    log-log demand regression beside the basket rules on the same
    lineitem×part grain (see the section comment for the DECIMAL
    group-sum determinism contract and the degenerate-brand guards).

    Scale: one projected lineitem scan joined to the part dimension,
    one 25-group DECIMAL aggregate (map-side combinable), scalar
    output — no window, no collect."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    obs = (
        li.where(
            (F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)
        )
        .join(pt, F.col("p_partkey") == F.col("l_partkey"))
        .select(
            F.col("p_brand").alias("brand"),
            F.round(
                F.log(F.col("l_extendedprice") / F.col("l_quantity")), 6
            ).alias("x"),
            F.round(F.log(F.col("l_quantity")), 6).alias("y"),
        )
    )
    t = obs.select(
        "brand",
        F.col("x").cast("decimal(18,6)").alias("xd"),
        F.col("y").cast("decimal(18,6)").alias("yd"),
        F.round(F.col("x") * F.col("y"), 6)
        .cast("decimal(28,6)")
        .alias("xy"),
        F.round(F.col("x") * F.col("x"), 6)
        .cast("decimal(28,6)")
        .alias("xx"),
        F.round(F.col("y") * F.col("y"), 6)
        .cast("decimal(28,6)")
        .alias("yy"),
    )
    g = t.groupBy("brand").agg(
        F.count("*").cast("bigint").alias("n_obs"),
        F.sum("xd").cast("double").alias("sx"),
        F.sum("yd").cast("double").alias("sy"),
        F.sum("xy").cast("double").alias("sxy"),
        F.sum("xx").cast("double").alias("sxx"),
        F.sum("yy").cast("double").alias("syy"),
    )
    return g.select(
        "brand",
        "n_obs",
        F.expr(
            "CASE WHEN n_obs >= 3 THEN"
            " round((n_obs * sxy - sx * sy)"
            " / NULLIF(n_obs * sxx - sx * sx, 0e0), 4) END"
        ).alias("elasticity"),
        F.expr(
            "CASE WHEN n_obs >= 3"
            " AND n_obs * sxx - sx * sx > 0e0"
            " AND n_obs * syy - sy * sy > 0e0 THEN"
            " round((n_obs * sxy - sx * sy) * (n_obs * sxy - sx * sy)"
            " / ((n_obs * sxx - sx * sx)"
            " * (n_obs * syy - sy * sy)), 4) END"
        ).alias("r_squared"),
    ).orderBy("brand")


# --- IPF survey raking of the hash-split order sample (round 16) ---------------
#
# Iterative proportional fitting (raking — Deming & Stephan 1940):
# reweight the hash-split HALF-sample of orders so its weighted
# (customer-segment × order-priority) table matches the FULL feed's
# two one-way margins — the standard survey/panel calibration every
# measurement pipeline runs when a logged subsample must represent
# the population. Alternating row- and column-scaling steps are
# UNROLLED to _IPF_ROUNDS fixed double-steps (the PageRank
# fixed-iteration convention), with the per-cell weight
# micro-quantized to BIGINT after every scaling step, so each
# step's margin sums Σ n·w are EXACT int64 (n·w_micro stays far
# under 2^63) and the scale factor is one fixed IEEE tree — both
# engines execute the identical generated CTE chain. Cells absent
# from the sample stay absent (classic IPF zero-cell behavior);
# margins whose mass is unreachable leave a residual gap the
# reported max_margin_gap makes visible instead of hiding.

_IPF_ROUNDS = 6  # row+col double-steps


def _ipf_step_sql(prev: str, axis: str, margin: str, out: str) -> str:
    """One scaling step: w <- w * target_margin / fitted_margin,
    micro-requantized — ONE builder for both engines."""
    return f"""{out} AS MATERIALIZED (
        SELECT c.seg, c.pri, c.n, c.{axis} AS ax, m.t,
               CAST(floor(CAST(c.w AS DOUBLE) * m.t * 1000000e0
                          / NULLIF(s.s, 0) + 0.5e0) AS BIGINT) AS w
        FROM {prev} c
        JOIN (SELECT {axis} AS ax, CAST(sum(n * w) AS BIGINT) AS s
              FROM {prev} GROUP BY 1) s ON s.ax = c.{axis}
        JOIN {margin} m ON m.ax = c.{axis}
    )"""


def _ipf_chain() -> str:
    steps = []
    prev = "c0"
    for r in range(_IPF_ROUNDS):
        steps.append(_ipf_step_sql(prev, "seg", "rm", f"r{r}"))
        steps.append(_ipf_step_sql(f"r{r}", "pri", "cm", f"k{r}"))
        prev = f"k{r}"
    return ",\n    ".join(steps), prev


_IPF_STEPS_SQL, _IPF_LAST = _ipf_chain()

# DuckDB-only hint: the step CTEs and the shared scan are each
# referenced more than once, and DuckDB's default CTE inlining
# expands the 12-step chain exponentially (measured: parquet opened
# 2^12 times). MATERIALIZED pins each step to run once; the Spark
# side breaks the same lineage with per-step localCheckpoints.
from .functions.scalar import split_a_sql as _ipf_split_sql  # noqa: E402

_IPF_ORACLE = f"""
    WITH o AS MATERIALIZED (
        SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri,
               {_ipf_split_sql("o.o_custkey")} AS in_sample
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    c0 AS MATERIALIZED (
        SELECT seg, pri, CAST(count(*) AS BIGINT) AS n,
               CAST(1000000 AS BIGINT) AS w
        FROM o WHERE in_sample GROUP BY 1, 2
    ),
    rm AS MATERIALIZED (
        SELECT seg AS ax, CAST(count(*) AS BIGINT) AS t
        FROM o GROUP BY 1
    ),
    cm AS MATERIALIZED (
        SELECT pri AS ax, CAST(count(*) AS BIGINT) AS t
        FROM o GROUP BY 1
    ),
    {_IPF_STEPS_SQL},
    fin AS MATERIALIZED (
        SELECT seg, pri, n, w FROM {_IPF_LAST}
    ),
    gaps AS (
        SELECT max(g) AS max_margin_gap_micro FROM (
            SELECT CAST(floor(abs(CAST(coalesce(s.s, 0) AS DOUBLE)
                                  / 1000000e0 - m.t)
                              / NULLIF(m.t, 0) * 1000000e0 + 0.5e0)
                        AS BIGINT) AS g
            FROM rm m
            LEFT JOIN (SELECT seg AS ax, CAST(sum(n * w) AS BIGINT) AS s
                       FROM fin GROUP BY 1) s ON s.ax = m.ax
            UNION ALL
            SELECT CAST(floor(abs(CAST(coalesce(s.s, 0) AS DOUBLE)
                                  / 1000000e0 - m.t)
                              / NULLIF(m.t, 0) * 1000000e0 + 0.5e0)
                        AS BIGINT)
            FROM cm m
            LEFT JOIN (SELECT pri AS ax, CAST(sum(n * w) AS BIGINT) AS s
                       FROM fin GROUP BY 1) s ON s.ax = m.ax
        )
    )
    SELECT seg, pri, n AS n_sample,
           round(w / 1000000e0, 6) AS weight,
           CAST(floor(CAST(n AS DOUBLE) * w / 1000000e0
                      + 0.5e0) AS BIGINT) AS fitted,
           round(max_margin_gap_micro / 1000000e0, 6) AS max_margin_gap
    FROM fin CROSS JOIN gaps
    ORDER BY seg, pri
"""


def _ipf_rake(cube):
    """The driver-side IPF walk over the (seg, pri, in_sample, count)
    cube: ``_IPF_ROUNDS`` row+column scaling steps with the identical
    quantized update ``floor(((w·t)·1e6)/s + 0.5)`` and IEEE op order
    as ``_ipf_step_sql``. A weight is NULL (``None``) once its axis
    sum is 0, and NULL keeps SQL semantics afterwards: it is skipped
    in every axis sum and the cell stays NULL. Returns the sorted
    ``[(seg, pri, n, w)]`` in-sample cells and the max relative
    margin gap in micro units (NULL when no margin is nonzero)."""
    import math

    cells: dict = {}  # (seg, pri) -> [n, w_micro]
    rm: dict = {}  # seg -> t
    cm: dict = {}  # pri -> t
    for seg, pri, in_sample, c in cube:
        rm[seg] = rm.get(seg, 0) + int(c)
        cm[pri] = cm.get(pri, 0) + int(c)
        if in_sample:
            cells[(seg, pri)] = [int(c), 1000000]

    def _sums(axis_of):
        # SQL sum(n * w): NULL weights drop out; an all-NULL axis has
        # no sum (NULL), which the gap reads as 0 like coalesce
        s: dict = {}
        for (seg, pri), (n, w) in cells.items():
            if w is not None:
                ax = axis_of(seg, pri)
                s[ax] = s.get(ax, 0) + n * w
        return s

    def _step(axis_of, margin):
        s = _sums(axis_of)
        for (seg, pri), cell in cells.items():
            ax = axis_of(seg, pri)
            if cell[1] is None or not s.get(ax):
                cell[1] = None
            else:
                cell[1] = int(
                    math.floor(
                        ((float(cell[1]) * float(margin[ax])) * 1e6)
                        / float(s[ax])
                        + 0.5
                    )
                )

    for _ in range(_IPF_ROUNDS):
        _step(lambda seg, pri: seg, rm)
        _step(lambda seg, pri: pri, cm)

    def _gaps(axis_of, margin):
        # margins LEAD (r16 review): an axis value absent from the
        # half-sample has no fitted row and must surface its 100% gap
        s = _sums(axis_of)
        return [
            int(
                math.floor(
                    abs(float(s.get(ax, 0)) / 1e6 - float(t))
                    / float(t)
                    * 1e6
                    + 0.5
                )
            )
            for ax, t in margin.items()
            if t != 0
        ]

    gaps = _gaps(lambda seg, pri: seg, rm) + _gaps(lambda seg, pri: pri, cm)
    return (
        [(seg, pri, n, w) for (seg, pri), (n, w) in sorted(cells.items())],
        max(gaps) if gaps else None,
    )


@register("features_ipf_raking", _IPF_ORACLE)
def features_ipf_raking(spark, sf_dir):
    """IPF (raking) calibration weights for the hash-split half-sample
    of orders against the full feed's segment and priority margins:
    one row per observed (segment, priority) cell with its sample
    count, converged weight, fitted count, and the final maximum
    relative margin gap — the survey-calibration classic (see the
    section comment for the unrolled-step determinism contract).

    Scale: ONE map-side-combined aggregate collapses orders to the
    (seg, pri, in_sample) count cube — <= 2·|segments|·|priorities|
    rows, the complete sufficient statistic for the cells AND both
    margins — and the IPF iteration runs on that metadata-scale grid
    DRIVER-SIDE (r17; the bucket-rank-kernel walk precedent): every
    update is the identical quantized expression
    floor(((w_d·t)·1e6)/s + 0.5) on exact BIGINTs with the same IEEE
    op order as the unrolled Catalyst chain it replaces, so the
    fitted weights are bit-identical (oracle-hash-proven). The r16
    shape ran {r} row+column double-steps as 2·{r} checkpointed Spark
    jobs over a 25-row grid — ~3.1 s of pure job latency at sf0.1 for
    arithmetic on 25 cells; nothing downstream scales with the fact
    table either way.""".format(r=_IPF_ROUNDS)
    from .functions.scalar import split_is_a

    o = (
        load_table(spark, sf_dir, "orders")
        .join(
            load_table(spark, sf_dir, "customer").select(
                "c_custkey", "c_mktsegment"
            ),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("pri"),
            split_is_a("o_custkey").alias("in_sample"),
        )
    )
    # one fact scan, one aggregate: the (seg, pri, in_sample) cube
    cells, max_gap = _ipf_rake(
        o.groupBy("seg", "pri", "in_sample")
        .agg(F.count("*").cast("bigint").alias("c"))
        .collect()
    )
    fin = local_frame(
        spark, cells, "seg string, pri string, n bigint, w bigint"
    )
    gaps = local_frame(spark, [(max_gap,)], "max_margin_gap_micro bigint")
    return (
        fin.crossJoin(F.broadcast(gaps))
        .select(
            "seg",
            "pri",
            F.col("n").alias("n_sample"),
            F.round(F.col("w") / F.expr("1000000e0"), 6).alias("weight"),
            F.expr(
                "CAST(floor(CAST(n AS DOUBLE) * w / 1000000e0"
                " + 0.5e0) AS BIGINT)"
            ).alias("fitted"),
            F.round(
                F.col("max_margin_gap_micro") / F.expr("1000000e0"), 6
            ).alias("max_margin_gap"),
        )
        .orderBy("seg", "pri")
    )
